"""Physical-plan shape assertions (the .explain audit as tests), skew
utilities, quantized context counts, and the spark-submit entrypoint.

These lock in the scale properties SURVEY §4 promises: shuffle-free
flagship, pushed-down scan filters, broadcast-only dimension joins, and
semantics-preserving salting.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_fused_annotate_is_shuffle_free(spark, web_pages, model_bc):
    plan = _plan(annotate(spark, web_pages, model_bc, PipelineConfig()))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_lang_filter_and_pruning_reach_scan(spark, web_pages, model_bc):
    """lang='en' must be pushed into the parquet scan and only (url, html)
    read — Catalyst pushdown + column pruning through the UDF boundary."""
    df = annotate(spark, web_pages, model_bc, PipelineConfig(lang="en"))
    plan = _plan(df)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan, plan
    assert "PushedFilters" in scan[0] and "lang" in scan[0]
    assert "ReadSchema" in scan[0]
    read_schema = scan[0].split("ReadSchema:")[1]
    assert "url" in read_schema and "html" in read_schema
    assert "warc_ts" not in read_schema  # unused column pruned at the scan


def test_relational_joins_are_broadcast(spark):
    """Every dimension join in the relational path must be a broadcast
    hash join — a sort-merge join on the lexicon would shuffle the corpus
    (SURVEY §2.10)."""
    from dbpedia_spotlight_spark import queries as Q
    sf_dir = "/root/testdata/sf0.001"
    plan = _plan(Q.q_annotate_prior(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_plan_has_no_python(spark):
    """Signatures must stay JVM-side (no Python UDF in the scan)."""
    from dbpedia_spotlight_spark.operators.dedup import minhash_signatures
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    assert "Python" not in plan and "ArrowEval" not in plan


def test_textstats_stay_jvm_side(spark):
    """Text-stat expressions must not drop to Python (higher-order
    lambdas keep the project JVM-side even where codegen can't fuse it)."""
    from dbpedia_spotlight_spark.operators.textstats import quality_scores
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(quality_scores(docs))
    assert "Python" not in plan and "ArrowEval" not in plan


def test_aggregations_partial_before_shuffle(spark):
    """groupBy aggregations must map-side combine (partial_* before the
    Exchange) — the shuffle carries |groups|, not |rows|."""
    from dbpedia_spotlight_spark import queries as Q
    plan = _plan(Q.q_hll_users(spark, "/root/testdata/sf0.001"))
    shuffle = "Exchange hashpartitioning(event_type"
    assert "partial_sum" in plan and shuffle in plan
    assert plan.index("partial_sum") > plan.index(shuffle)  # below it


def test_embedding_lsh_pairs_no_cartesian(spark):
    """The default embedding near-dup path must contain NO cartesian /
    nested-loop stage anywhere — the quadratic crossJoin is the exact
    anti-pattern the LSH path exists to avoid."""
    from dbpedia_spotlight_spark.operators.dedup import embedding_near_dup
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_near_dup(emb, threshold=0.99))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_near_pairs_single_pass(spark):
    """Blocked simhash pairing must be bucket-expansion (one aggregate on
    the block key), not a self-join of the signature pipeline — a join
    would scan + hash the corpus once per side."""
    from dbpedia_spotlight_spark.operators.dedup import simhash_near_pairs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(simhash_near_pairs(docs, bits=64, max_hamming=3))
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1
    # signatures stay JVM-side (md5/conv expressions, no Python)
    assert "Python" not in plan and "ArrowEval" not in plan


def test_jaccard_single_scan_no_joins(spark):
    """Exact Jaccard pairs: per-doc set sizes ride through the bucket
    expansion as struct(id, n) — ONE documents scan, ZERO joins (the old
    sizes-table form re-scanned the corpus and shuffled it twice more)."""
    from dbpedia_spotlight_spark.operators.dedup import ngram_jaccard_pairs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(docs, k=3, threshold=0.03))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_jaccard_lsh_composition_scans_docs_twice_max(spark):
    """LSH-candidates → exact-verify composition: the documents table
    feeds the MinHash pipeline and the shingle pipeline once each (the
    candidate set joins as a semi-join, never re-expanding all pairs)."""
    from dbpedia_spotlight_spark import queries as Q
    df = Q.q_jaccard_lsh_verified(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "documents" in ln]
    assert len(scans) <= 2  # one per pipeline leg


# ---------------------------------------------------------------------------
# skew utilities — semantics preserved under salting
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed(spark):
    """1 hot key with 5k rows + 50 cold keys with 10 rows each."""
    hot = spark.range(5000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v"))
    cold = spark.range(500).select(
        F.concat(F.lit("c"), (F.col("id") % 50)).alias("k"),
        (F.col("id") + 10_000).alias("v"))
    return hot.unionByName(cold)


def test_salted_topk_equals_plain_window(spark, skewed):
    from dbpedia_spotlight_spark.operators.skew import salted_topk
    from pyspark.sql import Window
    w = Window.partitionBy("k").orderBy(F.desc("v"))
    plain = (
        skewed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    salted = salted_topk(skewed, ["k"], [F.desc("v")], k=3, n_salt=8)
    a = {(r.k, r.v, r.rank) for r in plain.collect()}
    b = {(r.k, r.v, r.rank) for r in salted.collect()}
    assert a == b


def test_salted_count_equals_plain(spark, skewed):
    from dbpedia_spotlight_spark.operators.skew import salted_count
    plain = {(r.k, r["count"]) for r in
             skewed.groupBy("k").count().collect()}
    salted = {(r.k, r.cnt) for r in
              salted_count(skewed, ["k"], n_salt=8).collect()}
    assert plain == salted


def test_repartition_salted_spreads_hot_key(spark, skewed):
    from dbpedia_spotlight_spark.operators.skew import repartition_salted
    # AQE would coalesce this tiny test shuffle back to one partition;
    # at real scale the partitions exceed the advisory size and stay split
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        parts = (
            repartition_salted(skewed.filter(F.col("k") == "hot"), ["k"], 8)
            .withColumn("p", F.spark_partition_id())
            .select("p").distinct().count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert parts >= 4  # hot key spans multiple partitions


# ---------------------------------------------------------------------------
# quantized context counts in the broadcast model
# ---------------------------------------------------------------------------


def test_quantized_model_scores_within_tolerance(lexicon):
    import numpy as np
    from dbpedia_spotlight_spark.model import compile_model, context_loglik

    def build(q):
        return compile_model(
            surface_forms=lexicon.surface_forms,
            entities=lexicon.entities,
            pair_counts=lexicon.pair_counts,
            token_counts=lexicon.token_counts,
            token_types=lexicon.token_types,
            stopwords=lexicon.stopwords["token"].tolist(),
            quantize_context=q,
        )

    raw, quant = build(False), build(True)
    # quantization error of each stored count < half a bin (base 1.1)
    assert np.all(quant.ctx_count > 0)
    rel = np.abs(quant.ctx_count - raw.ctx_count) / raw.ctx_count
    assert rel.max() <= 0.06  # half a base-1.1 bin (~4.9%) + int rounding
    # scores drift, but by less than the bin width in log space
    ents = np.arange(min(10, raw.n_entities()), dtype=np.int64)
    q_tokens = raw.ctx_token[:5].astype(np.int64)
    q_tokens = np.unique(q_tokens)
    q_counts = np.ones(len(q_tokens))
    s_raw = context_loglik(raw, ents, q_tokens, q_counts)
    s_q = context_loglik(quant, ents, q_tokens, q_counts)
    assert np.max(np.abs(s_raw - s_q)) < 0.1 * len(q_tokens)


def test_quantized_model_preserves_pr(spark, web_pages, corpus, lexicon):
    """P/R on planted fixtures must hold with the quantized store."""
    from dbpedia_spotlight_spark.model import compile_model
    model = compile_model(
        surface_forms=lexicon.surface_forms,
        entities=lexicon.entities,
        pair_counts=lexicon.pair_counts,
        token_counts=lexicon.token_counts,
        token_types=lexicon.token_types,
        stopwords=lexicon.stopwords["token"].tolist(),
        quantize_context=True,
    )
    bc = spark.sparkContext.broadcast(model)
    ann = annotate(spark, web_pages, bc,
                   PipelineConfig(disambiguator="generative"))
    got = {(r.url, r.begin, r.end, r.uri) for r in ann.collect()}
    want = {(r.url, int(r.begin), int(r.end), r.uri)
            for _, r in corpus[1].iterrows()}
    tp = len(got & want)
    assert tp / len(got) >= 0.95 and tp / len(want) >= 0.95


# ---------------------------------------------------------------------------
# spark-submit entrypoint
# ---------------------------------------------------------------------------


def test_run_pipeline_main(spark, web_pages, lexicon, tmp_path):
    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.run_pipeline import main

    corpus_dir = str(tmp_path / "corpus")
    lex_dir = str(tmp_path / "lexicon")
    out_dir = str(tmp_path / "out")
    web_pages.write.mode("overwrite").parquet(corpus_dir)
    write_lexicon(spark, lexicon, lex_dir)

    stats = main([
        "--corpus", corpus_dir, "--lexicon", lex_dir, "--out", out_dir,
        "--mode", "annotate", "--resume-units", "4",
    ], spark=spark)
    assert stats["rows"] > 0 and stats["units_total"] == 4
    # per-partition metrics table reconciles with the triple output
    assert stats["n_partitions"] > 0
    metrics = spark.read.parquet(f"{out_dir}/annotate_output_metrics")
    assert metrics.agg(F.sum("n_rows")).first()[0] == stats["rows"]

    # idempotent restart: nothing re-executes, rows unchanged
    stats2 = main([
        "--corpus", corpus_dir, "--lexicon", lex_dir, "--out", out_dir,
        "--mode", "annotate", "--resume-units", "4",
    ], spark=spark)
    assert stats2["units_executed_this_run"] == 0
    assert stats2["rows"] == stats["rows"]

    # spot mode, plain write
    stats3 = main([
        "--corpus", corpus_dir, "--lexicon", lex_dir,
        "--out", str(tmp_path / "out2"), "--mode", "spot",
    ], spark=spark)
    assert stats3["rows"] > 0


def test_gopher_quality_single_scan(spark):
    """quality gates read the corpus ONCE (kind-tagged gram explode) —
    the naive token-branch/bigram-branch/join shape reads it 3x."""
    from dbpedia_spotlight_spark.operators.textstats import gopher_quality
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(gopher_quality(docs))
    assert plan.count("FileScan") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_connected_components_edges_not_reexecuted(spark):
    """The per-round join must hit the materialized edge list, not
    re-derive the upstream pair pipeline: after localCheckpoint the
    iterated plan contains no parquet scan of the docs at all."""
    from dbpedia_spotlight_spark.operators.components import (
        connected_components,
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from dbpedia_spotlight_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    pairs = minhash_candidate_pairs(docs, n_hashes=16, bands=4)
    out = connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs, max_iter=3)
    plan = _plan(out)
    # labels side scans docs once; the edge side is a checkpointed RDD
    assert plan.count("FileScan") <= 1, plan


def test_run_curation_main(spark, tmp_path):
    """Curation job end-to-end on the driver documents table: stage
    counts are monotone, duplicates are really gone, splits partition
    the output, and a re-run reproduces the identical corpus
    (determinism is the whole point of the hash-based keep-decisions)."""
    from dbpedia_spotlight_spark.run_curation import main

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # plant exact clones (stage-1 work) AND near-duplicates — same text
    # plus one trailing token, Jaccard ≈ 0.95 (stage-2 work; LSH false
    # positives alone must NOT delete docs now that candidates are
    # exact-verified before clustering)
    exact = src.filter("doc_id < 30").withColumn(
        "doc_id", F.col("doc_id") + 1_000_000)
    near = src.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + 2_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra")))
    corpus_dir = str(tmp_path / "corpus")
    src.unionByName(exact).unionByName(near).write.parquet(corpus_dir)

    argv = ["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
            "--split", "train=0.8,val=0.1,test=0.1", "--scrub-pii"]
    stats = main(argv, spark=spark)
    assert stats["input_rows"] == 550
    assert stats["after_exact_dedup"] == 520          # exact clones gone
    # near clones gone (planted ids are the cluster max, so originals
    # win); the corpus also contains a couple dozen GENUINE >= 0.8
    # near-dup pairs that legitimately dedup, so the count lands between
    # "only planted removed" and "candidates clustered unverified"
    assert 450 < stats["after_near_dedup"] < 520
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out" / "curated"))
            .select("doc_id").collect()}
    assert not any(i >= 1_000_000 for i in kept)      # no planted clone kept
    assert 0 < stats["after_quality_gate"] < stats["after_near_dedup"]
    assert stats["output_rows"] == stats["after_quality_gate"]
    assert sum(stats["split_counts"].values()) == stats["output_rows"]
    assert set(stats["split_counts"]) <= {"train", "val", "test"}

    stats2 = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out2"),
                   "--split", "train=0.8,val=0.1,test=0.1", "--scrub-pii"],
                  spark=spark)
    a = spark.read.parquet(str(tmp_path / "out" / "curated")) \
        .orderBy("doc_id").collect()
    b = spark.read.parquet(str(tmp_path / "out2" / "curated")) \
        .orderBy("doc_id").collect()
    assert a == b


def test_run_curation_recrawl_stage(spark, tmp_path):
    """--dedup-recrawls keeps only the newest capture per url before
    content dedup, and a url column triggers the host-skew stats."""
    from dbpedia_spotlight_spark.run_curation import main

    src = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 40")
    base = src.select(
        "doc_id", "text",
        F.concat(F.lit("https://host"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".org/p/"), F.col("doc_id").cast("string"))
         .alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"))
    # each url recrawled once, 1h later, different text (so only the
    # recrawl stage — not content dedup — can collapse them) — AND the
    # recrawl's url is a messy variant (tracking param + fragment) that
    # only --canonicalize-urls can reunite with the original
    recrawl = base.withColumn("doc_id", F.col("doc_id") + 500) \
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 1 hour")) \
        .withColumn("text", F.concat(F.lit("v2 "), F.col("text"))) \
        .withColumn("url", F.concat(F.col("url"),
                                    F.lit("?utm_source=feed#top")))
    corpus_dir = str(tmp_path / "corpus")
    base.unionByName(recrawl).write.parquet(corpus_dir)

    stats = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
                  "--canonicalize-urls", "--dedup-recrawls",
                  "--lang", "", "--no-quality-gate",
                  "--split", ""], spark=spark)
    assert stats["input_rows"] == 80
    assert stats["after_recrawl_dedup"] == 40
    assert stats["host_skew"]["n_hosts"] == 5
    assert stats["host_skew"]["max_host_docs"] == 8
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out" / "curated"))
            .select("doc_id").collect()}
    assert kept and all(i >= 500 for i in kept)       # newest capture won


def test_run_curation_robots_and_boilerplate_stages(spark, tmp_path):
    """--robots-gate drops noindex pages via their html; then
    --clean-boilerplate strips known boilerplate lines BEFORE hashing,
    so two captures that differ only in footers dedup exactly."""
    from dbpedia_spotlight_spark.run_curation import main

    src = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 30")
    footer = "Copyright 2024 example.org - all rights reserved."
    base = src.select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\n" + footer)).alias("text"),
        F.encode(F.lit("<html><body>ok</body></html>"), "utf-8")
         .alias("html"))
    # same body text, DIFFERENT footer → only boilerplate-clean + exact
    # dedup together can collapse these
    variant = base.withColumn("doc_id", F.col("doc_id") + 100) \
        .withColumn("text", F.regexp_replace(
            "text", "Copyright 2024", "Copyright 1999"))
    # noindex pages: must vanish at the robots gate
    blocked = src.filter("doc_id < 5").select(
        (F.col("doc_id") + 900).alias("doc_id"), "text",
        F.encode(F.lit('<html><head><meta name="robots" '
                       'content="noindex"></head></html>'), "utf-8")
         .alias("html"))
    corpus_dir = str(tmp_path / "corpus")
    base.unionByName(variant).unionByName(blocked).write.parquet(corpus_dir)

    stats = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
                  "--robots-gate", "--clean-boilerplate",
                  "--lang", "", "--no-quality-gate", "--split", ""],
                 spark=spark)
    assert stats["input_rows"] == 65
    assert stats["after_robots_gate"] == 60           # 5 noindex gone
    assert stats["after_boilerplate"] == 60           # no doc emptied
    assert stats["boilerplate_lines_dropped"] == 60   # one footer each
    assert stats["after_exact_dedup"] == 30           # variants collapsed
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out" / "curated"))
            .select("doc_id").collect()}
    # min-id keeper: every survivor is a base doc (the +100 variants and
    # +900 noindex rows are all gone); the near-dedup stage may also
    # collapse a few GENUINE near-dup pairs within the base corpus
    assert kept <= set(range(30)) and len(kept) >= 25
    # and the surviving text carries no footer line
    texts = spark.read.parquet(str(tmp_path / "out" / "curated")) \
        .select("text").collect()
    assert all("rights reserved" not in r["text"] for r in texts)


def test_run_curation_line_dedup_stage(spark, tmp_path):
    """--line-dedup: a syndicated license block planted at the top of
    every page survives only in the min-doc_id page; bodies stay
    intact; stats report the cross-document drop count."""
    from dbpedia_spotlight_spark.run_curation import main

    src = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 20")
    block = ("this content is licensed under creative commons "
             "attribution terms")
    corpus_dir = str(tmp_path / "corpus")
    src.select(
        "doc_id",
        F.concat(F.lit(block + "\n"), F.col("text")).alias("text"),
    ).write.parquet(corpus_dir)

    stats = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
                  "--line-dedup",
                  "--lang", "", "--no-quality-gate", "--split", ""],
                 spark=spark)
    assert stats["cross_doc_lines_dropped"] == 19
    assert stats["after_line_dedup"] == 20
    rows = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(str(tmp_path / "out" / "curated"))
            .select("doc_id", "text").collect()}
    with_block = sorted(i for i, t in rows.items() if block in t)
    assert with_block == [min(rows)]
    # bodies untouched (block line removed, nothing else)
    orig = {r["doc_id"]: r["text"] for r in src.collect()}
    assert all(rows[i] == orig[i] for i in rows if i != min(rows))


def test_run_curation_span_dedup_stage(spark, tmp_path):
    """--span-dedup K: a 10-word syndicated run planted mid-document in
    every page (inside a line — invisible to --line-dedup) survives
    only in the min-doc_id page; every other page loses exactly those
    10 words; per-doc unique filler words guarantee no other gram can
    duplicate, so the stats are exact."""
    from dbpedia_spotlight_spark.run_curation import main

    run = " ".join(f"shared{j}" for j in range(10))
    rows = []
    for i in range(20):
        words = [f"u{i}x{j}" for j in range(30)]
        text = " ".join(words[:10] + run.split() + words[10:])
        rows.append((i, text))
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        corpus_dir)

    stats = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
                  "--span-dedup", "8",
                  "--lang", "", "--no-quality-gate", "--split", ""],
                 spark=spark)
    assert stats["dup_span_words_dropped"] == 19 * 10
    assert stats["after_span_dedup"] == 20
    out = {r["doc_id"]: r["text"] for r in
           spark.read.parquet(str(tmp_path / "out" / "curated"))
           .select("doc_id", "text").collect()}
    assert len(out) == 20
    assert run in out[0]                       # keeper intact
    assert all(run not in t for i, t in out.items() if i != 0)
    # fillers untouched everywhere
    assert all(all(f"u{i}x{j}" in out[i] for j in range(30))
               for i in out)


def test_run_curation_classifier_gate_stage(spark, tmp_path):
    """--classifier-ref: the CCNet model-based gate trains on reference
    positives vs an in-corpus hash-sample negative class and drops the
    digit-spam half of the corpus; the learned weights land in stats."""
    from dbpedia_spotlight_spark.run_curation import main

    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks along the quiet river bank towards the old mill")

    def unique_tail(tag: str, i: int) -> str:
        # enough per-doc unique words that the always-on near-dedup
        # stages (Jaccard 0.8) cannot collapse the fixture family
        return " ".join(f"{tag}{i}word{j}" for j in range(12))

    rows = [(i, f"{good} {unique_tail('g', i)}") for i in range(40)]
    rows += [(100 + i,
              " ".join(str(1000 + i * 37 + j) for j in range(25)))
             for i in range(40)]
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        corpus_dir)
    ref_dir = str(tmp_path / "ref")
    spark.createDataFrame(
        [(i, f"{good} {unique_tail('r', i)}") for i in range(30)],
        ["doc_id", "text"]).write.parquet(ref_dir)

    stats = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
                  "--classifier-ref", ref_dir,
                  "--classifier-iters", "200",
                  "--lang", "", "--no-quality-gate", "--split", ""],
                 spark=spark)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out" / "curated"))
            .select("doc_id").collect()}
    assert stats["after_classifier_gate"] == len(kept)
    assert not any(i >= 100 for i in kept)         # spam all dropped
    assert len([i for i in kept if i < 40]) >= 35  # good mostly kept
    # digit spam is separated by a negative digit-ratio weight
    assert stats["classifier_weights"]["digit_ratio"] < 0
    assert set(stats["classifier_weights"]) == {
        "n_chars", "n_tokens", "mean_token_len", "stopword_ratio",
        "digit_ratio", "upper_ratio"}


def test_run_curation_dsir_stage(spark, tmp_path):
    """--dsir-target/--dsir-k: DSIR importance resampling keeps the k
    docs sampled ∝ weight toward the reference distribution. Both
    families have EQUAL length (the weight is a sum over grams, so
    unequal lengths shift it) and each shares a family-common phrase:
    the on-target phrase is target-frequent (mild per-gram ratio), the
    off-target phrase is raw-frequent / target-absent (strongly
    negative), so the log-weight gap (tens of nats) dwarfs the Gumbel
    noise and every winner comes from the on-target family."""
    from dbpedia_spotlight_spark.run_curation import main

    good = ("the quick brown fox jumps over the lazy dog and "
            "then walks home")                     # 13 words
    spam = ("zebra lion tiger crocodile hyena rhino buffalo "
            "giraffe leopard cheetah warthog meerkat mongoose")

    def unique_tail(tag: str, i: int) -> str:
        # enough per-doc unique words that the always-on near-dedup
        # stages (Jaccard 0.8) cannot collapse the fixture family
        return " ".join(f"{tag}{i}word{j}" for j in range(12))

    rows = [(i, f"{good} {unique_tail('g', i)}") for i in range(20)]
    rows += [(100 + i, f"{spam} {unique_tail('s', i)}")
             for i in range(20)]
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        corpus_dir)
    ref_dir = str(tmp_path / "ref")
    spark.createDataFrame(
        [(i, f"{good} {unique_tail('r', i)}") for i in range(10)],
        ["doc_id", "text"]).write.parquet(ref_dir)

    stats = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
                  "--dsir-target", ref_dir, "--dsir-k", "10",
                  "--lang", "", "--no-quality-gate", "--split", ""],
                 spark=spark)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out" / "curated"))
            .select("doc_id").collect()}
    assert stats["after_dsir"] == 10 and len(kept) == 10
    assert all(i < 100 for i in kept)

    with pytest.raises(SystemExit):
        main(["--corpus", corpus_dir, "--out", str(tmp_path / "out2"),
              "--dsir-target", ref_dir,
              "--lang", "", "--no-quality-gate", "--split", ""],
             spark=spark)


def test_run_pipeline_relations_emission(spark, web_pages, lexicon,
                                         tmp_path):
    """--relations: annotate mode also writes the open-relation
    candidate table (adjacent disambiguated mentions + normalized
    middle span) and its n_docs-gated triple promotion."""
    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.run_pipeline import main

    corpus_dir = str(tmp_path / "corpus")
    lex_dir = str(tmp_path / "lexicon")
    out_dir = str(tmp_path / "out")
    web_pages.write.mode("overwrite").parquet(corpus_dir)
    write_lexicon(spark, lexicon, lex_dir)

    stats = main([
        "--corpus", corpus_dir, "--lexicon", lex_dir, "--out", out_dir,
        "--mode", "annotate", "--relations", "--relations-min-docs", "1",
    ], spark=spark)
    assert stats["relation_rows"] > 0
    assert stats["relation_triples_rows"] > 0
    rel = spark.read.parquet(f"{out_dir}/relations")
    assert set(rel.columns) == {"subj_uri", "predicate", "obj_uri",
                                "n", "n_docs"}
    assert rel.filter(F.col("subj_uri") == F.col("obj_uri")).count() == 0
    assert rel.filter(F.length("predicate") == 0).count() == 0
    trip = spark.read.parquet(f"{out_dir}/relation_triples")
    assert set(trip.columns) == {"subj", "pred", "obj", "n", "n_docs"}
    assert trip.filter(~F.col("pred").startswith("rel:")).count() == 0


def test_run_pipeline_anchor_lexicon_emission(spark, web_pages, lexicon,
                                              tmp_path):
    """--anchor-lexicon: the annotate job also writes the pairCounts-
    shaped anchor vote table from the corpus html (datagen plants
    deterministic word-derived cross-host hrefs)."""
    import zlib
    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.run_pipeline import main

    corpus_dir = str(tmp_path / "corpus")
    lex_dir = str(tmp_path / "lexicon")
    out_dir = str(tmp_path / "out")
    web_pages.write.mode("overwrite").parquet(corpus_dir)
    write_lexicon(spark, lexicon, lex_dir)

    stats = main([
        "--corpus", corpus_dir, "--lexicon", lex_dir, "--out", out_dir,
        "--mode", "annotate", "--anchor-lexicon",
    ], spark=spark)
    assert stats["rows"] > 0 and stats["anchor_lexicon_rows"] > 0
    lex_df = spark.read.parquet(f"{out_dir}/anchor_lexicon")
    assert set(lex_df.columns) == {"sf", "uri", "count"}
    r = lex_df.orderBy(F.desc("count")).first()
    assert r["uri"] == (f"https://host{zlib.crc32(r['sf'].encode()) % 51}"
                        f".example/e/{r['sf']}")


def test_run_pipeline_incremental_delta(spark, web_pages, lexicon,
                                        tmp_path):
    """--base-triples: a re-run over an unchanged crawl yields an empty
    change log; against a base missing its mention triples, the delta
    re-adds exactly those."""
    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.run_pipeline import main

    corpus_dir = str(tmp_path / "corpus")
    lex_dir = str(tmp_path / "lexicon")
    web_pages.write.mode("overwrite").parquet(corpus_dir)
    write_lexicon(spark, lexicon, lex_dir)

    out1 = str(tmp_path / "run1")
    main(["--corpus", corpus_dir, "--lexicon", lex_dir, "--out", out1,
          "--mode", "annotate"], spark=spark)
    base = f"{out1}/annotate_output"

    out2 = str(tmp_path / "run2")
    stats = main(["--corpus", corpus_dir, "--lexicon", lex_dir,
                  "--out", out2, "--mode", "annotate",
                  "--base-triples", base], spark=spark)
    assert stats["delta_added"] == 0 and stats["delta_removed"] == 0

    # base missing every nif:anchorOf row → delta restores exactly them
    pruned = str(tmp_path / "pruned_base")
    t1 = spark.read.parquet(base)
    n_anchor = t1.filter(F.col("pred") == "nif:anchorOf").count()
    t1.filter(F.col("pred") != "nif:anchorOf").write.parquet(pruned)
    out3 = str(tmp_path / "run3")
    stats3 = main(["--corpus", corpus_dir, "--lexicon", lex_dir,
                   "--out", out3, "--mode", "annotate",
                   "--base-triples", pruned], spark=spark)
    assert stats3["delta_added"] == n_anchor > 0
    assert stats3["delta_removed"] == 0
    delta = spark.read.parquet(f"{out3}/annotate_output_delta")
    assert set(delta.columns) == {"url", "subj", "pred", "obj", "change"}


def test_run_curation_robots_txt_gate(spark, tmp_path):
    """--robots-txt-gate: the corpus's own /robots.txt captures become
    per-host rules; disallowed urls and the robots.txt rows vanish."""
    from dbpedia_spotlight_spark.run_curation import main

    src = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 20")
    pages = src.select(
        "doc_id", "text",
        F.concat(F.lit("https://s"), (F.col("doc_id") % 2).cast("string"),
                 F.lit(".org/"),
                 F.when(F.col("doc_id") % 4 == 0, "secret/")
                  .otherwise(""),
                 F.col("doc_id").cast("string")).alias("url"))
    robots = spark.createDataFrame(
        [(9000, "User-agent: *\nDisallow: /secret\n",
          "https://s0.org/robots.txt")],
        "doc_id long, text string, url string")
    corpus_dir = str(tmp_path / "corpus")
    pages.unionByName(robots).write.parquet(corpus_dir)

    stats = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
                  "--robots-txt-gate", "--lang", "", "--no-quality-gate",
                  "--split", ""], spark=spark)
    assert stats["input_rows"] == 21
    # host s0 disallows /secret: docs 0,4,8,12,16 have doc_id%4==0 and
    # doc_id%2==0 → host s0 → dropped (5 rows); robots row dropped too
    assert stats["after_robots_txt_gate"] == 15
    kept = {r["url"] for r in
            spark.read.parquet(str(tmp_path / "out" / "curated"))
            .select("url").collect()}
    assert not any(u.startswith("https://s0.org/secret/") for u in kept)
    assert not any(u.endswith("robots.txt") for u in kept)


def test_run_curation_decontam_and_ppl_stages(spark, tmp_path):
    """--decontaminate drops exactly the docs sharing an n-gram with the
    benchmark parquet; --ppl-ref self buckets by the corpus's own
    perplexity percentiles and keeps head+middle."""
    from dbpedia_spotlight_spark.run_curation import main

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus_dir = str(tmp_path / "corpus")
    src.write.parquet(corpus_dir)
    # benchmark = 12-word prefixes of three corpus docs → exactly those
    # docs are contaminated (random word soup elsewhere)
    bench_dir = str(tmp_path / "bench")
    src.filter("doc_id IN (5, 17, 123)").select(
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ")
        .alias("text")).write.parquet(bench_dir)

    stats = main(["--corpus", corpus_dir, "--out", str(tmp_path / "out"),
                  "--split", "", "--no-quality-gate", "--lang", "",
                  "--decontaminate", bench_dir, "--ppl-ref", "self"],
                 spark=spark)
    assert stats["n_contaminated"] >= 3
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out" / "curated"))
            .select("doc_id").collect()}
    assert not {5, 17, 123} & kept
    # ppl gate keeps the head+middle two-thirds (ties can nudge counts)
    assert stats["after_ppl_gate"] < stats["after_decontam"]
    assert stats["after_ppl_gate"] >= int(stats["after_decontam"] * 0.6)
    assert stats["ppl_thresholds"]["head_max"] <= \
        stats["ppl_thresholds"]["middle_max"]

    # --ppl-mix: CCNet mixing — head kept whole, tail subsampled
    sm = main(["--corpus", corpus_dir, "--out", str(tmp_path / "outm"),
               "--split", "", "--no-quality-gate", "--lang", "",
               "--ppl-ref", "self",
               "--ppl-mix", "head=1.0,middle=0.5,tail=0.05"],
              spark=spark)
    n = stats["input_rows"]
    # ≈ n/3 + n/6 + n/60 ≈ 0.52n, generous band for tercile ties
    assert 0.35 * n < sm["after_ppl_gate"] < 0.65 * n


def test_run_curation_semantic_dedup_stage(spark, tmp_path):
    """--semantic-dedup catches a word-order-shuffled clone (bag-of-words
    cosine 1.0) that the shingle stages structurally miss (3-gram
    Jaccard ~0 after shuffling), and keeps the min-id original."""
    from dbpedia_spotlight_spark.run_curation import main

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter("doc_id < 60")
    # word-shuffled clone of doc 7: same multiset of tokens
    base = src.filter("doc_id = 7").first()
    shuffled = " ".join(reversed(base["text"].split(" ")))
    clone = spark.createDataFrame(
        [(900007, shuffled, base["lang"], base["source"], len(shuffled))],
        src.schema)
    corpus_dir = str(tmp_path / "corpus")
    src.unionByName(clone).write.parquet(corpus_dir)

    common = ["--corpus", corpus_dir, "--split", "",
              "--no-quality-gate", "--lang", ""]
    # control: WITHOUT the stage the clone survives shingle dedup
    s0 = main(common + ["--out", str(tmp_path / "out0")], spark=spark)
    kept0 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out0" / "curated"))
             .select("doc_id").collect()}
    assert 900007 in kept0

    s1 = main(common + ["--out", str(tmp_path / "out1"),
                        "--semantic-dedup", "0.99"], spark=spark)
    kept1 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out1" / "curated"))
             .select("doc_id").collect()}
    assert 900007 not in kept1 and 7 in kept1
    assert s1["after_semantic_dedup"] == s0["output_rows"] - 1


def test_run_curation_stage_dir_resume(spark, tmp_path):
    """--stage-dir + --resume: completed stages are reused, not
    recomputed. Proof is behavioral — poison rows appended to the
    corpus AFTER the first run must NOT appear in a resumed run's
    output (every stage marker exists, so the resumed job never
    re-reads past stage 0), and stage stats are restored from the
    sidecars."""
    from dbpedia_spotlight_spark.run_curation import main

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter("doc_id < 80")
    corpus_dir = str(tmp_path / "corpus")
    src.write.parquet(corpus_dir)
    common = ["--corpus", corpus_dir, "--split", "", "--lang", "",
              "--stage-dir", str(tmp_path / "stages")]
    s1 = main(common + ["--out", str(tmp_path / "out1")], spark=spark)

    # poison the corpus: new rows that WOULD survive every gate
    spark.read.parquet(corpus_dir).limit(5) \
        .withColumn("doc_id", F.col("doc_id") + 5_000_000) \
        .withColumn("text", F.concat(F.col("text"), F.lit(" poison"))) \
        .write.mode("append").parquet(corpus_dir)

    s2 = main(common + ["--resume", "--out", str(tmp_path / "out2")],
              spark=spark)
    kept2 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out2" / "curated"))
             .select("doc_id").collect()}
    assert not any(i >= 5_000_000 for i in kept2)       # stages reused
    assert s2["after_exact_dedup"] == s1["after_exact_dedup"]
    assert s2["after_near_dedup"] == s1["after_near_dedup"]
    assert s2["n_dup_clusters"] == s1["n_dup_clusters"]  # sidecar stats
    assert s2["output_rows"] == s1["output_rows"]

    # control: WITHOUT --resume the poison flows through
    s3 = main(common + ["--out", str(tmp_path / "out3")], spark=spark)
    kept3 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out3" / "curated"))
             .select("doc_id").collect()}
    assert any(i >= 5_000_000 for i in kept3)


def test_run_kg_maintain_main(spark, web_pages, lexicon, tmp_path):
    """KG-maintenance entrypoint: batch fold, then an incremental
    stream drain over the same pages is a no-op (replace-idempotent),
    and a third call with new pages advances the generation."""
    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.run_kg_maintain import main

    pages_dir = str(tmp_path / "pages")
    lex_dir = str(tmp_path / "lexicon")
    kg_dir = str(tmp_path / "kg")
    web_pages.write.mode("overwrite").parquet(pages_dir)
    write_lexicon(spark, lexicon, lex_dir)

    s1 = main(["--pages", pages_dir, "--lexicon", lex_dir, "--kg", kg_dir,
               "--verify"],
              spark=spark)
    assert s1["gen"] == 0 and s1["kg_rows"] > 0 and s1["n_changes"] > 0
    assert s1["n_added"] == s1["n_changes"] and s1["n_removed"] == 0
    assert s1["verify"]["ok"] and s1["verify"]["n_actual"] == s1["kg_rows"]

    # same pages again, batch mode: empty delta keeps the generation
    s2 = main(["--pages", pages_dir, "--lexicon", lex_dir, "--kg", kg_dir],
              spark=spark)
    assert s2["gen"] == 0 and s2["n_changes"] == 0
    assert s2["kg_rows"] == s1["kg_rows"]

    # stream drain of a recrawl slice (later capture, changed content)
    # advances the generation
    import datetime
    rows = web_pages.limit(2).collect()
    recrawl = spark.createDataFrame(
        [(r["url"], r["warc_ts"] + datetime.timedelta(days=1),
          bytes(r["html"]) + b"<p>extra alpha0 text</p>", r["text"],
          r["lang"]) for r in rows],
        schema=web_pages.schema)
    pages2 = str(tmp_path / "pages2")
    recrawl.write.mode("overwrite").parquet(pages2)
    s3 = main(["--pages", pages2, "--lexicon", lex_dir, "--kg", kg_dir,
               "--stream", "--checkpoint", str(tmp_path / "ck"),
               "--metrics-out", str(tmp_path / "metrics.json"),
               "--expire-log", "1", "--verify"],
              spark=spark)
    assert s3["gen"] == 1 and s3["kg_rows"] != s1["kg_rows"]
    # gen-1 digest was maintained INCREMENTALLY (shift over the
    # recrawl delta); verify recomputes from the snapshot and agrees
    assert s3["verify"]["ok"]
    assert s3["n_changes"] > 0
    assert [b["gen"] for b in s3["batches"] if "gen" in b] == [1]
    assert s3["log_partitions_dropped"] == 1  # gen=0 slice expired

    import json
    with open(tmp_path / "metrics.json") as fh:
        assert json.load(fh) == s3

    # CDC feed: a consumer caught up to gen 0 sees only the recrawl
    # delta; the expired gen=0 partition is gone from the log entirely
    from dbpedia_spotlight_spark.streaming.kg_stream import KGStore
    store = KGStore(spark, kg_dir)
    log = store.read_log(since_gen=0)
    assert log.count() == s3["n_changes"]
    assert {r["gen"] for r in store.read_log().select("gen").collect()} \
        == {1}


def test_run_kg_maintain_entail_catchup(spark, web_pages, lexicon, tmp_path):
    """--entail keeps the counting-IVM entailed-type store caught up
    with the KG generations: after two folds (initial crawl + recrawl)
    the entailed view equals the full recompute over the live snapshot;
    a re-run with no new KG generation folds nothing."""
    import datetime

    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.operators.ontology import (
        infer_types, subclass_closure)
    from dbpedia_spotlight_spark.run_kg_maintain import main
    from dbpedia_spotlight_spark.streaming.kg_stream import EntailStore
    from dbpedia_spotlight_spark.triples import PRED_IDENT

    pages_dir = str(tmp_path / "pages")
    lex_dir = str(tmp_path / "lexicon")
    kg_dir = str(tmp_path / "kg")
    ent_dir = str(tmp_path / "entail")
    onto_dir = str(tmp_path / "ontology")
    web_pages.write.mode("overwrite").parquet(pages_dir)
    write_lexicon(spark, lexicon, lex_dir)
    types_present = sorted(lexicon.entities["types"].explode().unique())
    onto = spark.createDataFrame(
        [(t, "owl:Thing") for t in types_present], "sub string, sup string")
    onto.write.mode("overwrite").parquet(onto_dir)

    graph_dir = str(tmp_path / "graph")
    base = ["--lexicon", lex_dir, "--kg", kg_dir,
            "--entail", ent_dir, "--ontology", onto_dir,
            "--graph", graph_dir]
    s1 = main(["--pages", pages_dir] + base, spark=spark)
    assert s1["entail"]["gens_folded"] == 1 and s1["entail"]["gen"] == 0
    assert s1["entail"]["entailed_added"] > 0
    assert s1["entail"]["entailed_removed"] == 0
    assert s1["graph"]["gens_folded"] == 1
    assert s1["graph"]["edges_added"] > 0

    rows = web_pages.orderBy("url").limit(3).collect()
    recrawl = spark.createDataFrame(
        [(rows[i]["url"], rows[i]["warc_ts"] + datetime.timedelta(days=1),
          bytes(rows[(i + 1) % 3]["html"]), rows[i]["text"],
          rows[i]["lang"]) for i in range(3)],
        schema=web_pages.schema)
    pages2 = str(tmp_path / "pages2")
    recrawl.write.mode("overwrite").parquet(pages2)
    s2 = main(["--pages", pages2] + base, spark=spark)
    assert s2["gen"] == 1 and s2["entail"]["gen"] == 1
    assert s2["entail"]["gens_folded"] == 1
    assert s2["graph"]["gen"] == 1 and s2["graph"]["gens_folded"] == 1

    # entailed view == full recompute over the final snapshot
    from dbpedia_spotlight_spark.streaming.kg_stream import KGStore
    store = KGStore(spark, kg_dir)
    estore = EntailStore(spark, ent_dir)
    live = (store.read().filter(F.col("pred") == PRED_IDENT)
            .select(F.col("obj").alias("uri")).distinct())
    ent_types = (spark.read.parquet(f"{lex_dir}/entities.parquet")
                 .select("uri", F.explode("types").alias("typ")))
    asserted = (live.join(ent_types, "uri")
                .select(F.col("uri").alias("subj"),
                        F.lit("rdf:type").alias("pred"),
                        F.col("typ").alias("obj")))
    expect = {(r.subj, r.obj)
              for r in infer_types(asserted, subclass_closure(onto))
              .collect()}
    got = {(r.subj, r.obj) for r in estore.read_entailed().collect()}
    assert got == expect and len(got) > 0

    # caught-up: nothing to fold, state untouched
    s3 = main(["--pages", pages2] + base, spark=spark)
    assert s3["n_changes"] == 0
    assert s3["entail"]["gens_folded"] == 0 and s3["entail"]["gen"] == 1


def test_run_curation_resume_rejects_changed_flags(spark, tmp_path):
    """Regression (session-8 review): resuming a stage dir written
    under different stage-shaping flags must refuse, not silently drop
    the newly-requested stages."""
    import pytest as _pytest
    from dbpedia_spotlight_spark.run_curation import main
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter("doc_id < 40")
    corpus_dir = str(tmp_path / "corpus")
    src.write.parquet(corpus_dir)
    common = ["--corpus", corpus_dir, "--split", "", "--lang", "",
              "--stage-dir", str(tmp_path / "stages")]
    main(common + ["--out", str(tmp_path / "out1")], spark=spark)
    with _pytest.raises(SystemExit, match="different flags"):
        main(common + ["--resume", "--clean-boilerplate",
                       "--out", str(tmp_path / "out2")], spark=spark)
    # unchanged flags still resume fine
    s = main(common + ["--resume", "--out", str(tmp_path / "out3")],
             spark=spark)
    assert s["output_rows"] > 0


def test_run_kg_maintain_shapes_and_er(spark, web_pages, lexicon, tmp_path):
    """--shapes validates the new generation (report parquet + gate);
    --er-keys writes discovered sameAs edges beside the store."""
    import json as _json

    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.run_kg_maintain import main

    pages_dir = str(tmp_path / "pages")
    lex_dir = str(tmp_path / "lexicon")
    kg_dir = str(tmp_path / "kg")
    web_pages.write.mode("overwrite").parquet(pages_dir)
    write_lexicon(spark, lexicon, lex_dir)
    # the store carries mention + link triples (types live in the
    # EntailStore) — target the linking mentions: each links exactly
    # one IRI entity → 0 violations
    shapes_ok = [{"shape": "MentionShape",
                  "target_subjects_of": "itsrdf:taIdentRef",
                  "constraints": [{"path": "itsrdf:taIdentRef",
                                   "min_count": 1, "max_count": 1,
                                   "node_kind": "IRI"}]}]
    sp = tmp_path / "shapes.json"
    sp.write_text(_json.dumps(shapes_ok))
    s1 = main(["--pages", pages_dir, "--lexicon", lex_dir, "--kg", kg_dir,
               "--shapes", str(sp), "--max-violations", "0",
               "--er-keys", "itsrdf:taIdentRef"], spark=spark)
    assert s1["shapes"]["gate_passed"]
    assert s1["shapes"]["n_violations"] == 0
    rep = spark.read.parquet(s1["shapes"]["out"])
    assert rep.columns == ["shape", "focus", "path", "component",
                           "value", "got"]
    edges = spark.read.parquet(s1["er"]["out"])
    assert edges.columns == ["a", "b", "n_shared", "name_dist"]
    assert s1["er"]["n_edges"] == edges.count()

    # recrawl fold -> generation 1: the report folds INCREMENTALLY
    # (prev-gen report + same shape signature) and equals a full
    # revalidation of the new snapshot
    import datetime

    from dbpedia_spotlight_spark.operators.shapes import validate_shapes
    from dbpedia_spotlight_spark.streaming.kg_stream import KGStore
    rows = web_pages.limit(2).collect()
    recrawl = spark.createDataFrame(
        [(r["url"], r["warc_ts"] + datetime.timedelta(days=1),
          bytes(r["html"]) + b"<p>extra alpha0 text</p>", r["text"],
          r["lang"]) for r in rows], schema=web_pages.schema)
    pages2 = str(tmp_path / "pages2")
    recrawl.write.mode("overwrite").parquet(pages2)
    s2 = main(["--pages", pages2, "--lexicon", lex_dir, "--kg", kg_dir,
               "--shapes", str(sp), "--max-violations", "0"], spark=spark)
    assert s2["gen"] == 1 and s2["shapes"]["mode"] == "incremental"
    assert s2["shapes"]["gate_passed"]
    store = KGStore(spark, kg_dir)
    full = validate_shapes(store.read(), shapes_ok)
    inc = spark.read.parquet(s2["shapes"]["out"])
    assert (sorted(map(tuple, inc.collect()))
            == sorted(map(tuple, full.collect())))

    # --er-store: incremental SameasStore catch-up over BOTH delta-log
    # generations lands on the batch er_sameas of the final snapshot
    from dbpedia_spotlight_spark.operators.er import er_sameas
    s3 = main(["--pages", pages2, "--lexicon", lex_dir, "--kg", kg_dir,
               "--er-keys", "itsrdf:taIdentRef",
               "--er-store", str(tmp_path / "sameas"), "--er-components",
               "--er-min-shared", "1", "--er-max-name-dist", "0",
               "--er-name-pred", "nif:anchorOf"], spark=spark)
    assert s3["er"]["gens_folded"] == 2 and s3["er"]["gen"] == 1
    assert s3["er"]["labels_changed"] > 0
    want = er_sameas(store.read().select("subj", "pred", "obj"),
                     ["itsrdf:taIdentRef"], name_pred="nif:anchorOf",
                     min_shared=1, max_name_dist=0).count()
    assert s3["er"]["n_edges"] == want

    # a constraint no entity can satisfy trips the gate AFTER the
    # report + metrics land; the shape signature changed, so the run
    # must fall back to FULL revalidation (no stale carry-over)
    shapes_bad = [{"shape": "MentionShape",
                   "target_subjects_of": "itsrdf:taIdentRef",
                   "constraints": [{"path": "ex:homepage",
                                    "min_count": 1}]}]
    sp.write_text(_json.dumps(shapes_bad))
    metrics = tmp_path / "metrics.json"
    with pytest.raises(RuntimeError, match="shape gate failed"):
        main(["--pages", pages_dir, "--lexicon", lex_dir, "--kg", kg_dir,
              "--shapes", str(sp), "--max-violations", "0",
              "--metrics-out", str(metrics)], spark=spark)
    with open(metrics) as fh:
        m = _json.load(fh)
    assert m["shapes"]["gate_passed"] is False
    assert m["shapes"]["mode"] == "full"
    assert m["shapes"]["n_violations"] > 0


def test_run_kg_maintain_relations_catchup(spark, web_pages, lexicon,
                                           tmp_path):
    """--relations keeps the RelationStore caught up with the KG folds:
    after the initial crawl and a recrawl the maintained table equals a
    batch extract_relations over the final crawl state (text extracted
    from html exactly as annotate saw it); a lagging store without
    --relations-corpus is refused, and supplying the full corpus heals
    it."""
    import datetime

    import pytest as _pytest

    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.model import load_model
    from dbpedia_spotlight_spark.operators.relations import (
        extract_relations)
    from dbpedia_spotlight_spark.pipeline import (
        PipelineConfig, annotate, extract_text)
    from dbpedia_spotlight_spark.run_kg_maintain import main
    from dbpedia_spotlight_spark.streaming.kg_stream import RelationStore

    pages_dir = str(tmp_path / "pages")
    lex_dir = str(tmp_path / "lexicon")
    kg_dir = str(tmp_path / "kg")
    rel_dir = str(tmp_path / "rel")
    web_pages.write.mode("overwrite").parquet(pages_dir)
    write_lexicon(spark, lexicon, lex_dir)
    base = ["--lexicon", lex_dir, "--kg", kg_dir, "--relations", rel_dir]

    s1 = main(["--pages", pages_dir] + base, spark=spark)
    assert s1["relations"]["gens_folded"] == 1
    assert s1["relations"]["rel_added"] > 0

    model = load_model(spark, lex_dir)
    bc = spark.sparkContext.broadcast(model)
    cfg = PipelineConfig(confidence=0.0, support=0,
                         disambiguator="generative", lang="en")

    def expected(pages):
        m = annotate(spark, pages, bc, cfg).select(
            "url", "begin", "end", "uri")
        docs = extract_text(pages).select(
            "url", F.col("extracted_text").alias("text"))
        return {tuple(r) for r in extract_relations(
            m, docs, id_col="url").collect()}

    rstore = RelationStore(spark, rel_dir)
    got = {tuple(r) for r in rstore.read_relations().collect()}
    assert got == expected(web_pages) and got

    # recrawl: default corpus (= the batch) is valid — caught-up store
    rows = web_pages.orderBy("url").limit(2).collect()
    recrawl = spark.createDataFrame(
        [(r["url"], r["warc_ts"] + datetime.timedelta(days=1),
          bytes(r["html"]) + b"<p>extra alpha0 text</p>", r["text"],
          r["lang"]) for r in rows], schema=web_pages.schema)
    pages2 = str(tmp_path / "pages2")
    recrawl.write.mode("overwrite").parquet(pages2)
    s2 = main(["--pages", pages2] + base, spark=spark)
    assert s2["relations"]["gens_folded"] == 1

    touched = [r["url"] for r in rows]
    final = (web_pages.filter(~F.col("url").isin(touched))
             .unionByName(recrawl))
    want = expected(final)
    assert {tuple(r) for r in rstore.read_relations().collect()} == want

    # a FRESH (lagging) store must refuse the default corpus after a
    # third fold (its pending tail reaches gens --pages can't cover)
    rows3 = web_pages.orderBy(F.col("url").desc()).limit(2).collect()
    recrawl3 = spark.createDataFrame(
        [(r["url"], r["warc_ts"] + datetime.timedelta(days=2),
          bytes(r["html"]) + b"<p>beta1 gamma2</p>", r["text"],
          r["lang"]) for r in rows3], schema=web_pages.schema)
    pages3 = str(tmp_path / "pages3")
    recrawl3.write.mode("overwrite").parquet(pages3)
    rel2 = str(tmp_path / "rel2")
    with _pytest.raises(ValueError, match="relations-corpus"):
        main(["--pages", pages3, "--lexicon", lex_dir, "--kg", kg_dir,
              "--relations", rel2], spark=spark)

    # full-corpus parquet heals it: the lagging store folds the whole
    # pending tail in one call and matches the caught-up twin
    touched3 = [r["url"] for r in rows3]
    final3 = final.filter(~F.col("url").isin(touched3)) \
        .unionByName(recrawl3)
    corpus_dir = str(tmp_path / "corpus3")
    final3.write.mode("overwrite").parquet(corpus_dir)
    s4 = main(["--pages", pages3, "--lexicon", lex_dir, "--kg", kg_dir,
               "--relations", rel2, "--relations-corpus", corpus_dir],
              spark=spark)
    assert s4["relations"]["gens_folded"] == 3
    want3 = expected(final3)
    assert {tuple(r) for r in
            RelationStore(spark, rel2).read_relations().collect()} == want3
    # the first store now lags by the aborted run's gen (its catchup
    # never ran), so it too needs the explicit corpus; one fold heals
    s5 = main(["--pages", pages3, "--relations-corpus", corpus_dir]
              + base, spark=spark)
    assert s5["relations"]["gens_folded"] == 1
    assert {tuple(r) for r in rstore.read_relations().collect()} == want3


def test_run_kg_maintain_embeddings(spark, web_pages, lexicon, tmp_path):
    """--embeddings chains the EmbeddingStore onto --relations: first
    run trains from hash init, a repeat run with unchanged pages is a
    no-op at the same generation, and --embeddings without --relations
    is refused."""
    import pytest as _pytest

    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.run_kg_maintain import main
    from dbpedia_spotlight_spark.streaming.kg_stream import EmbeddingStore

    pages_dir = str(tmp_path / "pages")
    lex_dir = str(tmp_path / "lexicon")
    web_pages.write.mode("overwrite").parquet(pages_dir)
    write_lexicon(spark, lexicon, lex_dir)
    base = ["--pages", pages_dir, "--lexicon", lex_dir,
            "--kg", str(tmp_path / "kg"),
            "--relations", str(tmp_path / "rel"),
            "--embeddings", str(tmp_path / "emb"),
            "--embed-dim", "6", "--embed-steps", "2",
            "--embed-min-docs", "1"]
    s1 = main(base, spark=spark)
    assert s1["embeddings"]["trained"] == 2
    assert s1["embeddings"]["steps_done"] == 2
    assert s1["embeddings"]["n_embeddings"] > 0
    estore = EmbeddingStore(spark, str(tmp_path / "emb"))
    emb = estore.read_embeddings()
    assert emb.filter("kind = 'entity'").count() > 0
    assert estore.read_meta()["dim"] == 6
    # unchanged pages: relation store keeps its generation → no-op
    s2 = main(base, spark=spark)
    assert s2["embeddings"]["trained"] == 0
    assert s2["embeddings"]["steps_done"] == 2
    with _pytest.raises(ValueError, match="requires --relations"):
        main(["--pages", pages_dir, "--lexicon", lex_dir,
              "--kg", str(tmp_path / "kg2"),
              "--embeddings", str(tmp_path / "emb2")], spark=spark)
