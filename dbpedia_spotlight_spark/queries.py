"""Driver-contract query registry: Spark callables + DuckDB oracle SQL.

Every operator from SURVEY.md §2 is bound here, once, in ``PAIRS``: a
(name, spark_query, oracle_sql) row over the driver's parquet tables
(``documents``, ``embeddings``, ``events``). The Spark side runs
the engine's real operators; the oracle side is independent ANSI SQL that
DuckDB evaluates on the same data — they can only agree if the operator
semantics are right.

All 50 registered queries are oracle-paired, including the
imperative-looking ones: the fused flagship (FSA spotting + generative
disambiguation) collapses to relational algebra on this corpus
(``_sql_generative``), winnowing/MinHash/SimHash recompute their
md5-derived hashes in SQL, fixed-fixture paths (TSV, wiki, spot-XML)
use golden expectations, and the real-table ``ann_ivf``
unrolls its 5 Lloyd iterations as DuckDB CTE chains (the trainer is
partition-layout-independent, so both engines see the same sample in
the same order).

Rules learned the hard way:
- Column-name parity: every computed column is aliased identically in
  Spark and SQL (driver hashes after sorting columns by name).
- Scalar columns only: the driver canonicalizer cannot hash
  array/map/struct cells (concat_ws or explode instead).
- round(9) on any value that crosses libm (exp/ln) — engines differ by
  ulps; exact doubles (division, md5 arithmetic, fold dot products)
  compare exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window, \
    functions as F

from dbpedia_spotlight_spark import lexicon_static as LEX

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _balanced(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition ONLY when the source under-splits (a single small
    parquet file reads as 1 partition → CPU-bound UDF stages would run
    single-threaded). At real scale the scan has ≥ cores splits via
    ``spark.sql.files.maxPartitionBytes`` and this is a no-op."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _balanced(spark.read.parquet(f"{sf_dir}/documents.parquet"), spark)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _balanced(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), spark)


def _cand_df(spark: SparkSession) -> DataFrame:
    """Unigram candidate table (sf, uri, prior, pair_count, support) from
    the static lexicon — the broadcast dimension of the relational path."""
    return spark.createDataFrame(
        LEX.unigram_prior_rows(),
        schema="sf string, uri string, prior double, pair_count int, support int",
    )


def _token_offsets(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok, begin, end) — posexplode + prefix-sum window.

    Char offsets are the triple-subject coordinate system (SURVEY §2.8);
    begin = Σ (len+1) of preceding tokens (single-space-joined corpus)."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.withColumn(
        "begin", F.coalesce(F.sum(F.length("tok") + 1).over(w), F.lit(0)).cast("int")
    ).withColumn("end", (F.col("begin") + F.length("tok")).cast("int"))


# DuckDB mirror of _token_offsets, as a reusable CTE body
_SQL_TOKS = """
  toks AS (
    SELECT d.doc_id, u.pos - 1 AS pos, u.tok
    FROM documents d, LATERAL (
      SELECT UNNEST(string_split(d.text, ' ')) AS tok,
             generate_subscripts(string_split(d.text, ' '), 1) AS pos
    ) u
  ),
  offs AS (
    SELECT doc_id, pos, tok,
           CAST(COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER)
             AS "begin",
           CAST(COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + length(tok) AS INTEGER) AS "end"
    FROM toks
  ),
  cand AS (
    SELECT * FROM (VALUES
      {priors}
    ) AS t(sf, uri, prior, pair_count, support)
  )
"""


def _sql_toks() -> str:
    return _SQL_TOKS.format(priors=LEX.sql_values_priors())


def _sf_df(spark: SparkSession) -> DataFrame:
    """Distinct unigram sf list, built driver-side: a .distinct() on the
    22-row candidate DataFrame would insert a full-width shuffle stage
    (spark.sql.shuffle.partitions tasks) before the broadcast."""
    sfs = sorted({r[0] for r in LEX.unigram_prior_rows()})
    return spark.createDataFrame([(s,) for s in sfs], "sf string")


def _spots(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """P1/P2 relational slice (unigram): token ⋈ broadcast(sf lexicon)."""
    sfs = _sf_df(docs.sparkSession)
    return (
        _token_offsets(docs)
        .join(F.broadcast(sfs), F.col("tok") == F.col("sf"))
        .select("doc_id", "begin", "end", F.col("sf").alias("surface_form"))
    )


_SQL_SPOTS = """
  spots AS (
    SELECT o.doc_id, o."begin", o."end", c.sf AS surface_form
    FROM offs o JOIN (SELECT DISTINCT sf FROM cand) c ON o.tok = c.sf
  )
"""


# ---------------------------------------------------------------------------
# Spotlight pipeline — relational (SQL-checkable) slice
# ---------------------------------------------------------------------------


def q_spot_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/T1: unigram spotting with char offsets (SURVEY §2.3)."""
    return _spots(_docs(spark, sf_dir), _cand_df(spark))


def sql_spot_unigram() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS +
        ' SELECT doc_id, "begin", "end", surface_form FROM spots'
    )


def q_spot_multitoken(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-token (bigram) + unigram spotting, spot-all mode, relational
    form: tokens ⋈ lexicon for unigrams; lead-window bigram assembly ⋈
    the multi-token sf list for bigrams. Externally checks multi-token
    match offsets (begin from token 1, end from token 2) — the FSA path
    covers the same semantics rows-only. No overlap resolution here
    (spot-ALL is the M3 total-count mode)."""
    bigrams = sorted(sf for sf in LEX.SF_CANDIDATES if " " in sf)
    bi_df = spark.createDataFrame([(s,) for s in bigrams], "sf string")
    toks = _token_offsets(_docs(spark, sf_dir))
    w = Window.partitionBy("doc_id").orderBy("pos")
    nxt = toks.select(
        "doc_id", "begin", "tok",
        F.lead("tok").over(w).alias("tok2"),
        F.lead("end").over(w).alias("end2"),
    )
    bi = (
        nxt.withColumn("pair", F.concat_ws(" ", "tok", "tok2"))
        .join(F.broadcast(bi_df), F.col("pair") == F.col("sf"))
        .select("doc_id", "begin", F.col("end2").alias("end"),
                F.col("sf").alias("surface_form"))
    )
    uni = _spots(_docs(spark, sf_dir), _cand_df(spark))
    return uni.unionByName(bi)


def sql_spot_multitoken() -> str:
    bigrams = sorted(sf for sf in LEX.SF_CANDIDATES if " " in sf)
    values = ", ".join(f"('{s}')" for s in bigrams)
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + f""",
  nxt AS (
    SELECT doc_id, "begin", tok,
           lead(tok) OVER w AS tok2,
           lead("end") OVER w AS end2
    FROM offs
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ),
  bi AS (
    SELECT n.doc_id, n."begin", n.end2 AS "end", b.sf AS surface_form
    FROM nxt n JOIN (VALUES {values}) b(sf)
      ON n.tok || ' ' || n.tok2 = b.sf
  )
  SELECT doc_id, "begin", "end", surface_form FROM spots
  UNION ALL
  SELECT doc_id, "begin", "end", surface_form FROM bi"""
    )


def _ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spots ⋈ broadcast(candidates) + per-mention prior ranking — the
    C1 broadcast join + D6 window + D8 prior disambiguation."""
    cand = _cand_df(spark)
    spots = _spots(_docs(spark, sf_dir), cand)
    w = Window.partitionBy("doc_id", "begin").orderBy(
        F.desc("prior"), F.asc("uri")
    )
    return (
        spots.join(F.broadcast(cand), spots.surface_form == cand.sf)
        .withColumn("rank", F.row_number().over(w))
    )


_SQL_RANKED = """
  ranked AS (
    SELECT s.doc_id, s."begin", s."end", s.surface_form,
           c.uri, c.prior, c.support,
           CAST(row_number() OVER (PARTITION BY s.doc_id, s."begin"
                              ORDER BY c.prior DESC, c.uri ASC) AS INTEGER)
             AS rank
    FROM spots s JOIN cand c ON s.surface_form = c.sf
  )
"""


def q_annotate_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 baseline disambiguator: per-mention argmax by prior
    (db/DBBaselineDisambiguator.scala [U])."""
    return (
        _ranked(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("doc_id", "begin", "end", "surface_form", "uri", "support")
    )


def sql_annotate_prior() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED +
        ' SELECT doc_id, "begin", "end", surface_form, uri, support'
        " FROM ranked WHERE rank = 1"
    )


def q_annotate_confident(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 at NON-TRIVIAL thresholds (confidence=0.5, support>=75) over
    the relational path — the composite confidence rule
    (similarity >= c AND pct_second_rank <= 1-c) and the support gate
    actually drop rows here (60/40-prior mentions fail pct2 <= 0.5;
    support 60/70 entities fail the support gate), so the oracle check
    exercises the filter semantics, unlike annotate_prior at defaults.
    D5 softmax + D7 second-rank margin are computed with the identical
    two-step expression shape in both engines (shifted-exp normalization,
    then lead ratio); round(9) absorbs libm ulp differences."""
    conf, support_min = 0.5, 75
    cand = _cand_df(spark)
    spots = _spots(_docs(spark, sf_dir), cand)
    wp = Window.partitionBy("doc_id", "begin")
    wo = wp.orderBy(F.desc("prior"), F.asc("uri"))
    joined = (
        spots.join(F.broadcast(cand), spots.surface_form == cand.sf)
        .withColumn("rank", F.row_number().over(wo))
        .withColumn("lnp", F.log(F.greatest(F.col("prior"), F.lit(1e-300))))
    )
    shifted = joined.withColumn("sh", F.col("lnp") - F.max("lnp").over(wp))
    scored = (
        shifted
        .withColumn("sim", F.exp("sh") / F.sum(F.exp("sh")).over(wp))
        .withColumn(
            "pct2",
            F.coalesce(F.exp(F.lead("lnp").over(wo) - F.col("lnp")),
                       F.lit(0.0)),
        )
    )
    # both threshold comparisons carry the same 1e-12 pad: a sim landing
    # within an ulp of the 0.5 boundary must pass/fail identically in
    # both engines (the pct2 pad alone left sim exposed)
    return (
        scored.filter(
            (F.col("rank") == 1)
            & (F.col("sim") >= conf - 1e-12)
            & (F.col("pct2") <= 1.0 - conf + 1e-12)
            & (F.col("support") >= support_min)
        )
        .select(
            "doc_id", "begin", "end", "surface_form", "uri", "support",
            F.round("sim", 9).alias("similarity_score"),
            F.round("pct2", 9).alias("percentage_of_second_rank"),
        )
    )


def sql_annotate_confident() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  scored AS (
    SELECT *, ln(greatest(prior, 1e-300)) AS lnp FROM ranked
  ),
  shifted AS (
    SELECT *, lnp - max(lnp) OVER (PARTITION BY doc_id, "begin") AS sh
    FROM scored
  ),
  sm AS (
    SELECT *,
           exp(sh) / sum(exp(sh)) OVER (PARTITION BY doc_id, "begin") AS sim,
           coalesce(exp(lead(lnp) OVER (PARTITION BY doc_id, "begin"
                                        ORDER BY prior DESC, uri ASC) - lnp),
                    0.0) AS pct2
    FROM shifted
  )
  SELECT doc_id, "begin", "end", surface_form, uri, support,
         round(sim, 9) AS similarity_score,
         round(pct2, 9) AS percentage_of_second_rank
  FROM sm
  WHERE rank = 1 AND sim >= 0.5 - 1e-12 AND pct2 <= 0.5 + 1e-12
    AND support >= 75"""
    )


def q_candidates_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/candidates endpoint, prior-ranked bestK=3 (SURVEY §3.2 D6)."""
    return (
        _ranked(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("doc_id", "begin", "end", "surface_form", "uri", "prior", "rank")
    )


def sql_candidates_topk() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED +
        ' SELECT doc_id, "begin", "end", surface_form, uri, prior, rank'
        " FROM ranked WHERE rank <= 3"
    )


def q_link_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+E2 triple emission: subj = url#char=b,e; mention + link preds
    (SURVEY §2.8). url is synthesized as source/doc_id."""
    ann = q_annotate_prior(spark, sf_dir).join(
        F.broadcast(_docs(spark, sf_dir).select("doc_id", "source")), "doc_id"
    )
    subj = F.concat_ws(
        "", F.col("source"), F.lit("/"), F.col("doc_id"),
        F.lit("#char="), F.col("begin"), F.lit(","), F.col("end"),
    ).alias("subj")
    # ONE pass: explode a 2-element pred/obj array instead of a union of
    # two branches (a union would recompute the whole upstream pipeline
    # per branch — 2× the work at any scale)
    pair = F.explode(F.array(
        F.struct(F.lit("itsrdf:taIdentRef").alias("pred"),
                 F.col("uri").alias("obj")),
        F.struct(F.lit("nif:anchorOf").alias("pred"),
                 F.col("surface_form").alias("obj")),
    )).alias("po")
    return (
        ann.select(subj, pair)
        .select("subj", F.col("po.pred").alias("pred"),
                F.col("po.obj").alias("obj"))
        .dropDuplicates(["subj", "pred", "obj"])
    )


def sql_link_triples() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  ann AS (
    SELECT r.*, d.source FROM ranked r
    JOIN documents d ON r.doc_id = d.doc_id WHERE r.rank = 1
  ),
  trip AS (
    SELECT source || '/' || CAST(doc_id AS VARCHAR) || '#char=' ||
           CAST("begin" AS VARCHAR) || ',' || CAST("end" AS VARCHAR) AS subj,
           'itsrdf:taIdentRef' AS pred, uri AS obj FROM ann
    UNION ALL
    SELECT source || '/' || CAST(doc_id AS VARCHAR) || '#char=' ||
           CAST("begin" AS VARCHAR) || ',' || CAST("end" AS VARCHAR) AS subj,
           'nif:anchorOf' AS pred, surface_form AS obj FROM ann
  )
  SELECT DISTINCT subj, pred, obj FROM trip"""
    )


def q_kg_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot content digest (triples.py::triple_digest) of the REAL
    link-triples output: one row (n_triples, digest) where digest is
    the exact integer sum of 60-bit md5s over the distinct triple set
    — order/layout-independent, mergeable, O(delta)-maintainable (the
    KGStore integrity record). digest compares as a string (DECIMAL /
    HUGEINT exceed doubles). The oracle replays hash → sum over the
    same relational link-triples derivation."""
    from dbpedia_spotlight_spark.triples import triple_digest
    out = triple_digest(q_link_triples(spark, sf_dir))
    return out.select("n_triples",
                      F.col("digest").cast("string").alias("digest"))


def sql_kg_digest() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  ann AS (
    SELECT r.*, d.source FROM ranked r
    JOIN documents d ON r.doc_id = d.doc_id WHERE r.rank = 1
  ),
  trip AS (
    SELECT source || '/' || CAST(doc_id AS VARCHAR) || '#char=' ||
           CAST("begin" AS VARCHAR) || ',' || CAST("end" AS VARCHAR) AS subj,
           'itsrdf:taIdentRef' AS pred, uri AS obj FROM ann
    UNION ALL
    SELECT source || '/' || CAST(doc_id AS VARCHAR) || '#char=' ||
           CAST("begin" AS VARCHAR) || ',' || CAST("end" AS VARCHAR) AS subj,
           'nif:anchorOf' AS pred, surface_form AS obj FROM ann
  ),
  dt AS (SELECT DISTINCT subj, pred, obj FROM trip)
  SELECT CAST(count(*) AS BIGINT) AS n_triples,
         CAST(sum((('0x' || substr(md5(subj || chr(31) || pred
                     || chr(31) || obj), 1, 15))::BIGINT)::HUGEINT)
              AS VARCHAR) AS digest
  FROM dt"""
    )


# --- offline model-build aggregations (M1–M3, M6; SURVEY §2.13) ---


def q_uri_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: c(e) over the emitted links (GROUP BY uri)."""
    from dbpedia_spotlight_spark.plans.model_build import uri_counts
    return uri_counts(q_annotate_prior(spark, sf_dir)).withColumnRenamed(
        "count", "cnt"
    )


def sql_uri_counts() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED +
        " SELECT uri, count(*) AS cnt FROM ranked WHERE rank = 1 GROUP BY uri"
    )


def q_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: c(s,e) (GROUP BY sf, uri)."""
    from dbpedia_spotlight_spark.plans.model_build import pair_counts_from_links
    links = q_annotate_prior(spark, sf_dir).withColumnRenamed(
        "surface_form", "sf"
    )
    return pair_counts_from_links(links).withColumnRenamed("count", "cnt")


def sql_pair_counts() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED +
        " SELECT lower(surface_form) AS sf, uri, count(*) AS cnt"
        " FROM ranked WHERE rank = 1 GROUP BY 1, 2"
    )


def q_sf_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 total side: raw-text occurrence count per surface form."""
    return (
        q_spot_unigram(spark, sf_dir)
        .groupBy(F.col("surface_form").alias("sf"))
        .agg(F.count("*").alias("total_count"))
    )


def sql_sf_totals() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS +
        " SELECT surface_form AS sf, count(*) AS total_count"
        " FROM spots GROUP BY 1"
    )


def q_quantized_uri_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: exponential count quantization (MemoryQuantizedCountStore [U])
    applied to M1's output."""
    from dbpedia_spotlight_spark.plans.model_build import quantize_counts
    return quantize_counts(
        q_uri_counts(spark, sf_dir), count_col="cnt"
    ).select("uri", "cnt", F.col("count_q").cast("int").alias("count_q"))


def sql_quantized_uri_counts() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  uc AS (SELECT uri, count(*) AS cnt FROM ranked WHERE rank = 1 GROUP BY uri)
  SELECT uri, cnt,
         CAST(CASE WHEN cnt <= 16 THEN cnt
              ELSE 16 + round(ln(cnt / 16.0) / ln(1.1)) END AS INTEGER)
           AS count_q
  FROM uc"""
    )


def q_redirect_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: transitive redirect resolution incl. deterministic cycle-break
    (WikipediaToDBpediaClosure [U]); golden-oracle over a fixed edge set
    with a 3-hop chain, a mid-chain entry, and a 2-cycle."""
    from dbpedia_spotlight_spark.plans.closure import redirect_closure
    edges = spark.createDataFrame(
        [
            ("A", "B"), ("B", "C"), ("C", "D"), ("E", "C"),
            ("Cycle_X", "Cycle_Y"), ("Cycle_Y", "Cycle_X"),
        ],
        schema="src_uri string, dst_uri string",
    )
    return redirect_closure(edges)


def sql_redirect_closure() -> str:
    # semantic expectation, stated independently of the implementation:
    # chain members resolve to the sink; cycle members to the lexicographic
    # min of the cycle.
    return """
  SELECT * FROM (VALUES
    ('A', 'D'), ('B', 'D'), ('C', 'D'), ('E', 'D'),
    ('Cycle_X', 'Cycle_X'), ('Cycle_Y', 'Cycle_X')
  ) AS t(src_uri, final_uri)"""


# --- KG graph materialization (north_rule "graph materialize") ---


def q_entity_graph_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG node table from the emitted links: per-entity mention and
    document frequencies."""
    from dbpedia_spotlight_spark.operators.graph import entity_nodes
    return entity_nodes(q_annotate_prior(spark, sf_dir))


def sql_entity_graph_nodes() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED +
        " SELECT uri, count(*) AS n_mentions,"
        " count(DISTINCT doc_id) AS n_docs"
        " FROM ranked WHERE rank = 1 GROUP BY uri"
    )


def q_entity_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence edges (doc-level co-mention, uri_a < uri_b)."""
    from dbpedia_spotlight_spark.operators.graph import cooccurrence_edges
    return cooccurrence_edges(q_annotate_prior(spark, sf_dir))


def sql_entity_graph_edges() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS (SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1)
  SELECT x.uri AS uri_a, y.uri AS uri_b, count(*) AS n_docs
  FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
  GROUP BY 1, 2"""
    )


def q_entity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation + local clustering coefficient per entity
    over the co-mention graph (operators/graph.py::triangle_counts,
    clustering_coefficients — degree-ordered wedge enumeration, the
    skew-safe form). Oracle enumerates triangles with the id-ordered
    3-way self-join (equivalent result: both count each triangle once)
    and recomputes 2·tri/(deg·(deg−1)); integer inputs make the double
    division exactly rounded in both engines, round(9) absorbs ulps."""
    from dbpedia_spotlight_spark.operators.graph import (
        clustering_coefficients, cooccurrence_edges)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return clustering_coefficients(edges).select(
        "uri", "degree", "n_triangles",
        F.round("clustering", 9).alias("clustering"))


def sql_entity_triangles() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS (SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  e AS (
    SELECT x.uri AS uri_a, y.uri AS uri_b
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),
  deg AS (
    SELECT uri, count(*) AS degree FROM (
      SELECT uri_a AS uri FROM e UNION ALL SELECT uri_b AS uri FROM e)
    GROUP BY uri),
  tri AS (
    SELECT x.uri_a AS a, x.uri_b AS b, y.uri_b AS c
    FROM e x JOIN e y ON y.uri_a = x.uri_b
    JOIN e z ON z.uri_a = x.uri_a AND z.uri_b = y.uri_b),
  tc AS (
    SELECT uri, count(*) AS n_triangles FROM (
      SELECT a AS uri FROM tri UNION ALL SELECT b AS uri FROM tri
      UNION ALL SELECT c AS uri FROM tri)
    GROUP BY uri)
  SELECT deg.uri AS uri, CAST(deg.degree AS BIGINT) AS degree,
         CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
         round(CASE WHEN deg.degree >= 2
               THEN 2.0 * coalesce(tc.n_triangles, 0)
                    / (deg.degree * (deg.degree - 1.0))
               ELSE 0.0 END, 9) AS clustering
  FROM deg LEFT JOIN tc ON tc.uri = deg.uri"""
    )


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG completion over the materialized co-mention graph
    (operators/graph.py::link_prediction): common-neighbors / Jaccard /
    Adamic-Adar for every non-adjacent entity pair sharing a neighbor
    — the propose-missing-facts pass after graph materialization. The
    REAL annotate→edges chain feeds it; the oracle re-derives the
    wedge enumeration, degree-exact Jaccard and the existing-edge
    anti-join as plain SQL joins."""
    from dbpedia_spotlight_spark.operators.graph import (
        cooccurrence_edges, link_prediction)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return link_prediction(edges)


def sql_link_prediction() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS (SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  e AS (
    SELECT x.uri AS uri_a, y.uri AS uri_b
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),
  und AS (SELECT uri_a AS s, uri_b AS d FROM e
          UNION ALL SELECT uri_b, uri_a FROM e),
  deg AS (SELECT s AS uri, count(*) AS degree FROM und GROUP BY s),
  wedges AS (
    SELECT u1.d AS a, u2.d AS b, u1.s AS c
    FROM und u1 JOIN und u2 ON u2.s = u1.s AND u1.d < u2.d
    JOIN deg dc ON dc.uri = u1.s
    WHERE dc.degree BETWEEN 2 AND 1000),
  scored AS (
    SELECT a AS uri_a, b AS uri_b, count(*) AS common_neighbors,
           sum(1.0 / ln(dc.degree)) AS aa
    FROM wedges JOIN deg dc ON dc.uri = wedges.c
    GROUP BY 1, 2)
  SELECT s.uri_a, s.uri_b,
         CAST(s.common_neighbors AS BIGINT) AS common_neighbors,
         round(s.common_neighbors
               / (da.degree + db.degree - s.common_neighbors), 9)
           AS jaccard,
         round(s.aa, 9) AS adamic_adar
  FROM scored s
  JOIN deg da ON da.uri = s.uri_a
  JOIN deg db ON db.uri = s.uri_b
  WHERE NOT EXISTS (SELECT 1 FROM e
                    WHERE e.uri_a = s.uri_a AND e.uri_b = s.uri_b)"""
    )


def q_entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document entity salience (operators/graph.py::
    entity_salience): mention-share × lead-position heuristic + rank,
    over the REAL annotate chain. Oracle recomputes both aggregates
    and the tie-broken rank window relationally."""
    from dbpedia_spotlight_spark.operators.graph import entity_salience
    return entity_salience(q_annotate_prior(spark, sf_dir))


def sql_entity_salience() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  links AS (SELECT doc_id, uri, "begin", "end" FROM ranked WHERE rank = 1),
  per AS (SELECT doc_id, uri, count(*) AS n_mentions,
                 min("begin") AS first_begin
          FROM links GROUP BY 1, 2),
  doc AS (SELECT doc_id, count(*) AS doc_mentions,
                 max("end") AS doc_len
          FROM links GROUP BY 1),
  scored AS (
    SELECT per.doc_id, per.uri,
           CAST(per.n_mentions AS BIGINT) AS n_mentions,
           per.first_begin,
           round(per.n_mentions * 1.0 / doc.doc_mentions, 9)
             AS mention_share,
           round(per.n_mentions * 1.0 / doc.doc_mentions
                 * (1.0 + (1.0 - per.first_begin * 1.0 / doc.doc_len)), 9)
             AS salience
    FROM per JOIN doc USING (doc_id))
  SELECT *, CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY salience DESC, uri) AS INTEGER)
         AS rank
  FROM scored"""
    )


_WALK_SQL_PREFIX = """,
  du AS (SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  e AS (
    SELECT x.uri AS uri_a, y.uri AS uri_b
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),
  und AS (SELECT uri_a AS s, uri_b AS d FROM e
          UNION ALL SELECT uri_b, uri_a FROM e),
  deg AS (SELECT s, count(*) AS n FROM und GROUP BY s),
  nbr AS (SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) - 1
                 AS r FROM und),
  w0 AS (SELECT v.s || '#' || t.k AS walk_id, v.s AS cur
         FROM (SELECT DISTINCT s FROM und) v
         CROSS JOIN (VALUES (0), (1)) t(k)),
  w1 AS (SELECT w0.walk_id, nbr.d AS cur
         FROM w0 JOIN deg ON deg.s = w0.cur
         JOIN nbr ON nbr.s = w0.cur
          AND nbr.r = CAST(concat('0x', substr(
                md5('walk:' || w0.walk_id || ':1'), 1, 15)) AS BIGINT)
              % deg.n),
  w2 AS (SELECT w1.walk_id, nbr.d AS cur
         FROM w1 JOIN deg ON deg.s = w1.cur
         JOIN nbr ON nbr.s = w1.cur
          AND nbr.r = CAST(concat('0x', substr(
                md5('walk:' || w1.walk_id || ':2'), 1, 15)) AS BIGINT)
              % deg.n),
  w3 AS (SELECT w2.walk_id, nbr.d AS cur
         FROM w2 JOIN deg ON deg.s = w2.cur
         JOIN nbr ON nbr.s = w2.cur
          AND nbr.r = CAST(concat('0x', substr(
                md5('walk:' || w2.walk_id || ':3'), 1, 15)) AS BIGINT)
              % deg.n),
  walks AS (
    SELECT walk_id, 0 AS step, cur AS uri FROM w0
    UNION ALL SELECT walk_id, 1, cur FROM w1
    UNION ALL SELECT walk_id, 2, cur FROM w2
    UNION ALL SELECT walk_id, 3, cur FROM w3)"""


def q_entity_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk corpus over the co-mention graph (operators/walks.py::
    random_walks): 2 deterministic walks of length 4 from every entity,
    transitions chosen by the engine's cross-engine md5-60-bit hash
    over the SORTED neighbor list. The oracle unrolls the 3 transition
    steps as CTE joins against a row_number-ranked neighbor relation —
    the two agree only if graph, ordering and hash all replay."""
    from dbpedia_spotlight_spark.operators.graph import cooccurrence_edges
    from dbpedia_spotlight_spark.operators.walks import random_walks
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return random_walks(edges, n_walks=2, walk_len=4)


def sql_entity_walks() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + _WALK_SQL_PREFIX + """
  SELECT walk_id, step, uri FROM walks"""
    )


def q_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs (window 2) from the deterministic walk
    corpus — the DeepWalk embedding-corpus composition
    (skipgram_pairs ∘ random_walks)."""
    from dbpedia_spotlight_spark.operators.graph import cooccurrence_edges
    from dbpedia_spotlight_spark.operators.walks import (
        random_walks, skipgram_pairs)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return skipgram_pairs(random_walks(edges, n_walks=2, walk_len=4),
                          window=2)


def sql_walk_skipgrams() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + _WALK_SQL_PREFIX + """
  SELECT a.uri AS center, b.uri AS context, count(*) AS n
  FROM walks a JOIN walks b ON a.walk_id = b.walk_id
   AND a.step <> b.step AND abs(a.step - b.step) <= 2
  GROUP BY 1, 2"""
    )


def q_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec p/q-biased walks (operators/walks.py::node2vec_walks)
    over the co-mention graph: 1 walk of length 4 per entity at
    p=2, q=0.5 (integer weights 1/2/4 for return/inside/outside). The
    oracle replays the weighted selection relationally — per-candidate
    CASE weights with an EXISTS probe of the previous node's edge set,
    window cumsum in sorted-neighbor order, pick = first cum > md5
    mod total — so the engines agree only if the bias classes, the
    integer scaling, and the cumulative tie-break all match."""
    from dbpedia_spotlight_spark.operators.graph import cooccurrence_edges
    from dbpedia_spotlight_spark.operators.walks import node2vec_walks
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return node2vec_walks(edges, p=2.0, q=0.5, n_walks=1, walk_len=4)


def sql_node2vec() -> str:
    wr, wi, wo = 1, 2, 4  # _pq_weights(2.0, 0.5)
    h = lambda t: ("CAST(concat('0x', substr(md5('n2v:' || walk_id"  # noqa: E731
                   f" || ':{t}'), 1, 15)) AS BIGINT)")
    steps = []
    for t in (2, 3):
        steps.append(f""",
  cand{t} AS (
    SELECT p.walk_id, p.prev, p.cur, nbr.d AS cand, nbr.r,
           CASE WHEN nbr.d = p.prev THEN {wr}
                WHEN pe.d IS NOT NULL THEN {wi}
                ELSE {wo} END AS w
    FROM s{t - 1} p JOIN nbr ON nbr.s = p.cur
    LEFT JOIN und pe ON pe.s = p.prev AND pe.d = nbr.d),
  s{t} AS (
    SELECT walk_id, prev, cur FROM (
      SELECT walk_id, cur AS prev, cand AS cur,
             row_number() OVER (PARTITION BY walk_id ORDER BY r)
               AS pick
      FROM (SELECT c.*,
                   sum(w) OVER (PARTITION BY walk_id ORDER BY r)
                     AS cum,
                   sum(w) OVER (PARTITION BY walk_id) AS tot
            FROM cand{t} c) cc
      WHERE cum > {h(t)} % tot) z
    WHERE pick = 1)""")
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + _WALK_SQL_PREFIX.split(",\n  w0 AS")[0] + f""",
  s0 AS (SELECT v.s || '#0' AS walk_id, CAST(NULL AS VARCHAR) AS prev,
                v.s AS cur
         FROM (SELECT DISTINCT s FROM und) v),
  s1 AS (SELECT s0.walk_id, s0.cur AS prev, nbr.d AS cur
         FROM s0 JOIN deg ON deg.s = s0.cur
         JOIN nbr ON nbr.s = s0.cur
          AND nbr.r = {h(1)} % deg.n){"".join(steps)}
  SELECT walk_id, step, uri FROM (
    SELECT walk_id, 0 AS step, cur AS uri FROM s0
    UNION ALL SELECT walk_id, 1, cur FROM s1
    UNION ALL SELECT walk_id, 2, cur FROM s2
    UNION ALL SELECT walk_id, 3, cur FROM s3) u"""
    )


def q_owl_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL 2 RL prp-spo2 (operators/ontology.py::infer_property_chains):
    planted hasParent edges e{i} → e{i//2} per document, a 2-step and a
    3-step chain axiom, and every 10th grandparent edge pre-asserted so
    the derived-minus-asserted anti-join is non-vacuous. The oracle
    re-derives both chains as explicit edge self-joins."""
    from dbpedia_spotlight_spark.operators.ontology import (
        infer_property_chains)
    d = _docs(spark, sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    parent = d.select(
        F.concat(F.lit("e"), s(F.col("doc_id"))).alias("subj"),
        F.lit("hasParent").alias("pred"),
        F.concat(F.lit("e"),
                 s((F.col("doc_id") / F.lit(2)).cast("long"))).alias("obj"))
    asserted_gp = d.filter(F.col("doc_id") % 10 == 0).select(
        F.concat(F.lit("e"), s(F.col("doc_id"))).alias("subj"),
        F.lit("hasGrandparent").alias("pred"),
        F.concat(F.lit("e"), s((F.col("doc_id") / F.lit(4)).cast("long"))
                 ).alias("obj"))
    kg = parent.unionByName(asserted_gp)
    return infer_property_chains(
        kg, [("hasGrandparent", ["hasParent", "hasParent"]),
             ("hasGreatGrandparent",
              ["hasParent", "hasParent", "hasParent"])])


def sql_owl_chains() -> str:
    return """
  WITH p AS (
    SELECT 'e' || doc_id AS subj,
           'e' || CAST(doc_id // 2 AS BIGINT) AS obj
    FROM documents),
  agp AS (
    SELECT 'e' || doc_id AS subj,
           'e' || CAST(doc_id // 4 AS BIGINT) AS obj
    FROM documents WHERE doc_id % 10 = 0),
  gp AS (
    SELECT a.subj, b.obj FROM p a JOIN p b ON a.obj = b.subj),
  ggp AS (
    SELECT a.subj, b.obj FROM gp a JOIN p b ON a.obj = b.subj)
  SELECT DISTINCT subj, 'hasGrandparent' AS pred, obj FROM gp
  WHERE NOT EXISTS (SELECT 1 FROM agp
                    WHERE agp.subj = gp.subj AND agp.obj = gp.obj)
  UNION
  SELECT DISTINCT subj, 'hasGreatGrandparent' AS pred, obj FROM ggp"""


def q_owl_restrictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL 2 RL cls-svf1/svf2/hv1/hv2/avf (operators/ontology.py::
    infer_restrictions): planted lanes per document — worksFor edges
    to c{i%7} with only even companies typed (svf1 selective),
    universal Linked (svf2), an acme hasValue lane on every 3rd doc
    (hv2) with every 5th doc pre-typed AcmeEmployee (hv1), and a
    ParisOffice/hasSite lane on every 4th doc (avf). Oracle replays
    each rule as joins over the planted construction."""
    from dbpedia_spotlight_spark.operators.ontology import (
        infer_restrictions)
    d = _docs(spark, sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    i = F.col("doc_id")
    rows = [
        d.select(F.concat(F.lit("u"), s(i)).alias("subj"),
                 F.lit("worksFor").alias("pred"),
                 F.concat(F.lit("c"), s(i % 7)).alias("obj")),
        d.filter(i % 7 % 2 == 0).select(
            F.concat(F.lit("c"), s(i % 7)).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.lit("Company").alias("obj")),
        d.filter(i % 3 == 0).select(
            F.concat(F.lit("v"), s(i)).alias("subj"),
            F.lit("worksFor").alias("pred"), F.lit("acme").alias("obj")),
        d.filter(i % 5 == 0).select(
            F.concat(F.lit("m"), s(i)).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.lit("AcmeEmployee").alias("obj")),
        d.filter(i % 4 == 0).select(
            F.concat(F.lit("t"), s(i)).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.lit("ParisOffice").alias("obj")),
        d.select(F.concat(F.lit("t"), s(i)).alias("subj"),
                 F.lit("hasSite").alias("pred"),
                 F.concat(F.lit("s"), s(i)).alias("obj")),
    ]
    kg = rows[0]
    for r_ in rows[1:]:
        kg = kg.unionByName(r_)
    decls = spark.createDataFrame(
        [("Employee", "worksFor", "someValuesFrom", "Company"),
         ("Linked", "worksFor", "someValuesFrom", "owl:Thing"),
         ("AcmeEmployee", "worksFor", "hasValue", "acme"),
         ("ParisOffice", "hasSite", "allValuesFrom", "Site")],
        "cls string, on_prop string, kind string, value string")
    return infer_restrictions(kg, decls)


def sql_owl_restrictions() -> str:
    return """
  WITH d AS (SELECT doc_id AS i FROM documents),
  kg AS (
    SELECT 'u' || i AS subj, 'worksFor' AS pred, 'c' || (i % 7) AS obj
    FROM d
    UNION ALL
    SELECT 'c' || (i % 7), 'rdf:type', 'Company' FROM d
    WHERE (i % 7) % 2 = 0
    UNION ALL
    SELECT 'v' || i, 'worksFor', 'acme' FROM d WHERE i % 3 = 0
    UNION ALL
    SELECT 'm' || i, 'rdf:type', 'AcmeEmployee' FROM d WHERE i % 5 = 0
    UNION ALL
    SELECT 't' || i, 'rdf:type', 'ParisOffice' FROM d WHERE i % 4 = 0
    UNION ALL
    SELECT 't' || i, 'hasSite', 's' || i FROM d),
  types AS (SELECT subj AS inst, obj AS cls_of FROM kg
            WHERE pred = 'rdf:type'),
  derived AS (
    -- cls-svf1: worksFor obj typed Company → Employee
    SELECT k.subj, 'rdf:type' AS pred, 'Employee' AS obj FROM kg k
    WHERE k.pred = 'worksFor' AND EXISTS (
      SELECT 1 FROM types t
      WHERE t.inst = k.obj AND t.cls_of = 'Company')
    UNION
    -- cls-svf2: any worksFor edge → Linked
    SELECT subj, 'rdf:type', 'Linked' FROM kg WHERE pred = 'worksFor'
    UNION
    -- cls-hv2: worksFor acme → AcmeEmployee
    SELECT subj, 'rdf:type', 'AcmeEmployee' FROM kg
    WHERE pred = 'worksFor' AND obj = 'acme'
    UNION
    -- cls-hv1: typed AcmeEmployee → worksFor acme
    SELECT inst, 'worksFor', 'acme' FROM types
    WHERE cls_of = 'AcmeEmployee'
    UNION
    -- cls-avf: ParisOffice's hasSite objects → Site
    SELECT k.obj, 'rdf:type', 'Site' FROM kg k
    WHERE k.pred = 'hasSite' AND EXISTS (
      SELECT 1 FROM types t
      WHERE t.inst = k.subj AND t.cls_of = 'ParisOffice'))
  SELECT subj, pred, obj FROM derived x
  WHERE NOT EXISTS (SELECT 1 FROM kg
                    WHERE kg.subj = x.subj AND kg.pred = x.pred
                      AND kg.obj = x.obj)"""


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketches.py::cms_sketch/cms_query):
    per-user event-frequency estimates through a d=3, w=16 sketch —
    small enough that hash collisions actually overestimate, so the
    oracle certifies the exact cell arithmetic, not just pass-through
    counting. The oracle replays hash → cells → sums → min-over-rows
    relationally with the repo md5-60-bit idiom."""
    from dbpedia_spotlight_spark.operators.sketches import (
        cms_query, cms_sketch)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = cms_sketch(ev, [], "user_id", d=3, w=16)
    return cms_query(sk, ev.select("user_id"), "user_id", d=3, w=16)


def sql_cms_counts() -> str:
    return """
  WITH cells AS (
    SELECT r.row,
           CAST(concat('0x', substr(
             md5(r.row || ':' || user_id), 1, 15)) AS BIGINT) % 16 AS col,
           count(*) AS cnt
    FROM events CROSS JOIN (VALUES (0), (1), (2)) r(row)
    GROUP BY 1, 2),
  q AS (
    SELECT user_id AS item, r.row,
           CAST(concat('0x', substr(
             md5(r.row || ':' || user_id), 1, 15)) AS BIGINT) % 16 AS col
    FROM (SELECT DISTINCT user_id FROM events)
    CROSS JOIN (VALUES (0), (1), (2)) r(row))
  SELECT q.item, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
  FROM q LEFT JOIN cells ON cells.row = q.row AND cells.col = q.col
  GROUP BY q.item"""


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the DIRECTED host link graph
    (operators/graph.py::hits ∘ anchors.host_link_edges ∘
    extract_anchors): deterministic HTML pages place every 5th word in
    an <a href> whose target host derives from the word length
    (h{len%5}.example when len%3==0, else t{len%7}.example), page urls
    live on h{doc_id%5}.example — so the graph mixes hub-only,
    authority-only and mixed-role hosts, with self-host links dropped
    by the cross-host filter. The REAL HTMLParser extractor runs; the
    oracle derives the same edges straight from word positions and
    unrolls the 10 L2-normalized HITS iterations as CTE chains
    (round(9) absorbs engine summation-order ulps, as entity_pagerank
    established)."""
    from dbpedia_spotlight_spark.operators.anchors import (
        extract_anchors, host_link_edges)
    from dbpedia_spotlight_spark.operators.graph import hits
    d = _docs(spark, sf_dir)
    words = F.split("text", " ")

    def tgt_host(w):
        return F.when(
            F.length(w) % 3 == 0,
            F.concat(F.lit("h"), (F.length(w) % 5).cast("string")),
        ).otherwise(
            F.concat(F.lit("t"), (F.length(w) % 7).cast("string")))

    frag = F.transform(
        words,
        lambda w, i: F.when(
            (i % 5 == 0) & (F.length(w) > 0),
            F.concat(F.lit('<a href="https://'), tgt_host(w),
                     F.lit('.example/x">'), w, F.lit("</a>")),
        ).otherwise(w),
    )
    pages = d.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".example/p"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(
            F.concat(F.lit("<html><body><p>"), F.array_join(frag, " "),
                     F.lit("</p></body></html>")),
            "utf-8",
        ).alias("html"),
    )
    edges = host_link_edges(extract_anchors(pages))
    return hits(edges).select(
        "uri", F.round("hub", 9).alias("hub"),
        F.round("authority", 9).alias("authority"))


def sql_host_hits(n_iter: int = 10) -> str:
    iters = []
    prev_h = "h0"
    for k in range(1, n_iter + 1):
        iters.append(f"""
  ar{k} AS MATERIALIZED (
    SELECT n.uri AS uri, coalesce(sum(e.w * h.hub), 0.0::DOUBLE) AS s
    FROM nodes n
    LEFT JOIN e ON e.dst = n.uri
    LEFT JOIN {prev_h} h ON h.uri = e.src
    GROUP BY n.uri),
  a{k} AS MATERIALIZED (
    SELECT uri, CASE WHEN (SELECT sqrt(sum(s * s)) FROM ar{k}) > 0.0
      THEN s / (SELECT sqrt(sum(s * s)) FROM ar{k}) ELSE 0.0 END
      AS authority
    FROM ar{k}),
  hr{k} AS MATERIALIZED (
    SELECT n.uri AS uri,
           coalesce(sum(e.w * a.authority), 0.0::DOUBLE) AS s
    FROM nodes n
    LEFT JOIN e ON e.src = n.uri
    LEFT JOIN a{k} a ON a.uri = e.dst
    GROUP BY n.uri),
  h{k} AS MATERIALIZED (
    SELECT uri, CASE WHEN (SELECT sqrt(sum(s * s)) FROM hr{k}) > 0.0
      THEN s / (SELECT sqrt(sum(s * s)) FROM hr{k}) ELSE 0.0 END AS hub
    FROM hr{k})""")
        prev_h = f"h{k}"
    return f"""
  WITH w AS MATERIALIZED (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents),
  l AS MATERIALIZED (
    SELECT 'h' || (doc_id % 5) || '.example' AS src,
           (CASE WHEN length(w) % 3 = 0 THEN 'h' || (length(w) % 5)
                 ELSE 't' || (length(w) % 7) END) || '.example' AS dst
    FROM w WHERE (i - 1) % 5 = 0 AND w <> ''),
  e AS MATERIALIZED (
    SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
    FROM l WHERE src <> dst GROUP BY 1, 2),
  nodes AS MATERIALIZED (
    SELECT DISTINCT uri FROM (
      SELECT src AS uri FROM e UNION ALL SELECT dst AS uri FROM e)),
  h0 AS (SELECT uri, 1.0::DOUBLE AS hub FROM nodes),{",".join(iters)}
  SELECT h.uri AS uri, round(h.hub, 9) AS hub,
         round(a.authority, 9) AS authority
  FROM h{n_iter} h JOIN a{n_iter} a ON a.uri = h.uri"""


def q_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank salience over the entity co-occurrence graph. The fixed
    10-iteration power method is mirrored in DuckDB as an unrolled chain
    of 10 aggregation CTEs (identical float expression shapes; integer
    edge weights make out-degree sums exact, so engines differ only by
    summation order ~1e-16 — absorbed by round(9))."""
    from dbpedia_spotlight_spark.operators.graph import (
        cooccurrence_edges, pagerank,
    )
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir))
    return pagerank(edges, n_iter=10).select(
        "uri", F.round("rank", 9).alias("rank")
    )


def sql_entity_pagerank(n_iter: int = 10) -> str:
    iters = []
    prev = "r0"
    for k in range(1, n_iter + 1):
        iters.append(f"""
  r{k} AS (
    SELECT nm.dst AS uri,
           ((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn))
             + 0.85::DOUBLE * sum(nm.p * r.rank) AS rank
    FROM norm nm JOIN {prev} r ON nm.src = r.uri
    GROUP BY nm.dst
  )""")
        prev = f"r{k}"
    # norm and nn are referenced by EVERY unrolled level; without AS
    # MATERIALIZED DuckDB inlines them, re-running the whole spotting +
    # ranking pipeline once per iteration (measured 24.8 s → sub-second
    # at sf0.01). Values are unchanged — it is purely an evaluation hint.
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS MATERIALIZED (SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  eg AS (
    SELECT x.uri AS uri_a, y.uri AS uri_b, count(*) AS n_docs
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2
  ),
  directed AS MATERIALIZED (
    SELECT uri_a AS src, uri_b AS dst, CAST(n_docs AS DOUBLE) AS w FROM eg
    UNION ALL
    SELECT uri_b AS src, uri_a AS dst, CAST(n_docs AS DOUBLE) AS w FROM eg
  ),
  outw AS (SELECT src, sum(w) AS ow FROM directed GROUP BY src),
  norm AS MATERIALIZED (
    SELECT d.src, d.dst, d.w / o.ow AS p
    FROM directed d JOIN outw o ON d.src = o.src
  ),
  nodes AS (SELECT DISTINCT src AS uri FROM directed),
  nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
  r0 AS (
    SELECT uri, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes
  ),""" + ",".join(iters) + f"""
  SELECT uri, round(rank, 9) AS rank FROM r{n_iter}"""
    )


# ---------------------------------------------------------------------------
# Spotlight pipeline — full fused path (rows-only; pytest covers semantics)
# ---------------------------------------------------------------------------


def _web_pages_from_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.concat_ws("/", "source", "doc_id").alias("url"), "text", "lang"
    )


_STATIC_BC = {}


def _static_model_bc(spark: SparkSession, quantized: bool = False,
                     stemmer: str = "identity"):
    # keyed by applicationId (stable, unique per SparkContext) — id(spark)
    # can collide when CPython reuses a freed address for a new session,
    # handing out a broadcast from a stopped context. Entries from other
    # (stopped) apps are evicted; variants within one app coexist.
    app = spark.sparkContext.applicationId
    key = (app, quantized, stemmer)
    if key not in _STATIC_BC:
        for k in list(_STATIC_BC):
            if k[0] != app:
                del _STATIC_BC[k]
        _STATIC_BC[key] = spark.sparkContext.broadcast(
            LEX.compile_static_model(quantize_context=quantized,
                                     stemmer=stemmer)
        )
    return _STATIC_BC[key]


def q_annotate_generative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full fused annotate (FSA spotting + generative
    disambiguation + filters) as ONE mapInPandas pass (SURVEY §3.1).

    Driver-facing shape: the API's ``types`` array<string> is flattened to
    a comma-joined string — the driver's canonicalizer sorts-then-hashes
    cell values and cannot order list cells (round-1 `err` row). The
    array-typed API (``pipeline.annotate``) is unchanged."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    return annotate(
        spark, _web_pages_from_docs(spark, sf_dir), _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0, support=0),
    ).withColumn("types", F.concat_ws(",", "types")) \
     .withColumn("similarity_score", F.round("similarity_score", 9)) \
     .withColumn("percentage_of_second_rank",
                 F.round("percentage_of_second_rank", 9))


def _gated_sfs() -> dict:
    """Surface forms passing the P2 annotationProbability gate."""
    from dbpedia_spotlight_spark.model import DEFAULT_SPOT_THRESHOLD
    return {sf: cands for sf, cands in LEX.SF_CANDIDATES_GATED.items()
            if LEX.SF_COUNTS[sf][0] / LEX.SF_COUNTS[sf][1]
            >= DEFAULT_SPOT_THRESHOLD}


def _sql_spot_ctes() -> str:
    """CTE chain endocs→toks→offs→nxt→bi→covered→uni→spots: the fused
    FSA spotting semantics (T1 offsets + P2 gate + P4 greedy
    longest-match overlap resolution) in relational form. Valid for this
    lexicon/corpus because (a) no two bigram patterns share an endpoint
    token, so greedy longest-match ≡ "keep every bigram spot, drop
    unigram spots at its two token positions", and (b) the flagship's
    default lang='en' filter maps to the endocs predicate."""
    gated = _gated_sfs()
    uni_vals = ", ".join(
        f"('{sf}')" for sf in sorted(x for x in gated if " " not in x))
    bi_vals = ", ".join(
        f"('{sf}')" for sf in sorted(x for x in gated if " " in x))
    return f"""
  WITH endocs AS (
    SELECT doc_id, source, text FROM documents WHERE lang = 'en'
  ),
  toks AS (
    SELECT d.doc_id, u.pos - 1 AS pos, u.tok
    FROM endocs d, LATERAL (
      SELECT UNNEST(string_split(d.text, ' ')) AS tok,
             generate_subscripts(string_split(d.text, ' '), 1) AS pos
    ) u
  ),
  offs AS (
    SELECT doc_id, pos, tok,
           CAST(COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER)
             AS "begin",
           CAST(COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + length(tok) AS INTEGER) AS "end"
    FROM toks
  ),
  nxt AS (
    SELECT doc_id, pos, tok, "begin", "end",
           lead(tok) OVER w AS tok2, lead("end") OVER w AS end2
    FROM offs WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ),
  bi AS (
    SELECT n.doc_id, n."begin", n.end2 AS "end",
           n.tok || ' ' || n.tok2 AS sf, n.pos
    FROM nxt n JOIN (VALUES {bi_vals}) b(sf) ON n.tok || ' ' || n.tok2 = b.sf
  ),
  covered AS (
    SELECT doc_id, pos FROM bi UNION ALL SELECT doc_id, pos + 1 FROM bi
  ),
  uni AS (
    SELECT o.doc_id, o."begin", o."end", o.tok AS sf, o.pos
    FROM offs o JOIN (VALUES {uni_vals}) u(sf) ON o.tok = u.sf
    WHERE NOT EXISTS (SELECT 1 FROM covered c
                      WHERE c.doc_id = o.doc_id AND c.pos = o.pos)
  ),
  spots AS (
    SELECT doc_id, "begin", "end", sf FROM uni
    UNION ALL SELECT doc_id, "begin", "end", sf FROM bi
  )"""


def _sql_generative(k: int = 1, quantize: bool = False) -> str:
    """Full DuckDB oracle for the FLAGSHIP fused annotate (and, with
    k=3, the /candidates twin) — valid because on this corpus the
    pipeline's imperative parts collapse to relational algebra: texts
    have no newlines → one paragraph per doc, so the two-step context
    bag is the whole-doc token histogram; overlap resolution is
    relational per _sql_spot_ctes. Generative scoring (SURVEY §2.5 D2)
    is recomputed per (doc, sf, candidate):
    ln P(e|s) + Σ_t n(t)·ln(λ·c(t,e)/C(e) + (1−λ)·P_LM(t)), with the
    smoothing constant evaluated in numpy driver-side so both engines
    consume the identical double; round(9) absorbs libm ulps."""
    import numpy as np
    from dbpedia_spotlight_spark.model import DEFAULT_LAMBDA

    lam = DEFAULT_LAMBDA
    # mirror compile_model's lm + context_loglik float paths exactly
    tok_rows = LEX.token_type_rows()
    total_tokens = float(sum(c for (_, _, c) in tok_rows))
    counts = {c for (_, _, c) in tok_rows}
    assert len(counts) == 1  # uniform corpus counts → one smooth constant
    lm_logprob = np.log(np.float64(next(iter(counts))) / total_tokens)
    smooth = (1.0 - lam) * np.exp(lm_logprob)

    support = {r[0]: r[2] for r in LEX.entity_rows()}
    types_str = {r[0]: ",".join(r[3]) for r in LEX.entity_rows()}

    cand_rows, single_rows, multi_uris = [], [], []
    for sf, cands in _gated_sfs().items():
        tot = sum(c for (_, c) in cands)
        if len(cands) == 1:
            u = LEX.DBP + cands[0][0]
            single_rows.append(
                f"('{sf}', '{u}', {support[u]}, '{types_str[u]}')")
        else:
            for (usfx, c) in cands:
                u = LEX.DBP + usfx
                multi_uris.append(u)
                cand_rows.append(
                    f"('{sf}', '{u}', CAST({c} AS DOUBLE)/{tot}, "
                    f"{support[u]}, '{types_str[u]}')")
    if quantize:
        # M6 store round-trip: the quantized model dequantizes int16
        # codes back to ints at compile time — mirror with the same
        # python codebook functions
        from dbpedia_spotlight_spark.functions.quantize import (
            dequantize, quantize as _q,
        )

        def cnt(c: int) -> int:
            return dequantize(_q(c))
    else:
        def cnt(c: int) -> int:
            return c
    ctx_rows = []
    for usfx, ctx in LEX.ENTITY_CONTEXT.items():
        u = LEX.DBP + usfx
        if u not in multi_uris:
            continue
        ctot = sum(cnt(c) for c in ctx.values())
        for t, c in ctx.items():
            ctx_rows.append(f"('{u}', '{t}', {cnt(c)}, {ctot})")
    vocab_vals = ", ".join(
        f"'{t}'" for t in sorted(set(LEX.VOCAB)) if t not in LEX.STOPWORDS)
    cand_vals = ",\n      ".join(cand_rows)
    single_vals = ",\n      ".join(single_rows)
    ctx_vals = ",\n      ".join(ctx_rows)
    lam_s = f"CAST('{lam!r}' AS DOUBLE)"
    smooth_s = f"CAST('{float(smooth)!r}' AS DOUBLE)"

    return _sql_spot_ctes() + f""",
  bag AS (
    SELECT doc_id, tok AS token, count(*) AS n FROM toks
    WHERE tok IN ({vocab_vals}) GROUP BY 1, 2
  ),
  cand AS (SELECT * FROM (VALUES
      {cand_vals}
    ) AS t(sf, uri, prior, support, types)),
  sing AS (SELECT * FROM (VALUES
      {single_vals}
    ) AS t(sf, uri, support, types)),
  ec AS (SELECT * FROM (VALUES
      {ctx_vals}
    ) AS t(uri, token, cnt, total)),
  en AS (SELECT DISTINCT uri, total FROM ec),
  ctx AS (
    SELECT b.doc_id, en.uri,
           SUM(b.n * ln(({lam_s} * COALESCE(ec.cnt, 0)) / en.total
                        + {smooth_s})) AS ctxscore
    FROM bag b
    CROSS JOIN en
    LEFT JOIN ec ON ec.uri = en.uri AND ec.token = b.token
    GROUP BY 1, 2
  ),
  score AS (
    SELECT ds.doc_id, c.sf, c.uri, c.support, c.types,
           ln(c.prior) + COALESCE(x.ctxscore, 0.0) AS score
    FROM (SELECT DISTINCT doc_id, sf FROM spots) ds
    JOIN cand c ON c.sf = ds.sf
    LEFT JOIN ctx x ON x.doc_id = ds.doc_id AND x.uri = c.uri
  ),
  shifted AS (
    SELECT *, score - max(score) OVER (PARTITION BY doc_id, sf) AS sh
    FROM score
  ),
  ranked AS (
    SELECT *,
           row_number() OVER wo AS rn,
           exp(sh) / sum(exp(sh)) OVER wp AS sim,
           coalesce(exp(lead(score) OVER wo - score), 0.0) AS pct2
    FROM shifted
    WINDOW wp AS (PARTITION BY doc_id, sf),
           wo AS (PARTITION BY doc_id, sf ORDER BY score DESC, uri ASC)
  ),
  ann AS (
    SELECT sp.doc_id, sp."begin", sp."end", sp.sf AS surface_form,
           r.uri, r.support, r.types, r.rn AS rank, r.sim, r.pct2
    FROM spots sp JOIN ranked r
      ON r.doc_id = sp.doc_id AND r.sf = sp.sf AND r.rn <= {k}
    UNION ALL
    SELECT sp.doc_id, sp."begin", sp."end", sp.sf,
           s.uri, s.support, s.types, 1 AS rank, 1.0, 0.0
    FROM spots sp JOIN sing s ON s.sf = sp.sf
  )
  SELECT d.source || '/' || CAST(a.doc_id AS VARCHAR) AS url,
         a."begin", a."end", a.surface_form, a.uri,
         CAST(a.rank AS INTEGER) AS rank,
         round(a.sim, 9) AS similarity_score,
         round(a.pct2, 9) AS percentage_of_second_rank,
         CAST(a.support AS BIGINT) AS support,
         a.types
  FROM ann a JOIN endocs d ON d.doc_id = a.doc_id"""


def sql_annotate_generative() -> str:
    return _sql_generative(k=1)


_TYPE_WHITELIST = ("Software", "Place")


def q_annotate_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 type filter (whitelist) through the fused path: only mentions
    whose winning entity carries a whitelisted ontology type survive.
    Oracle = the k=1 generative SQL filtered by the entity→type map
    (non-vacuous: most winners carry the default 'Concept' type only)."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    return (
        annotate(
            spark, _web_pages_from_docs(spark, sf_dir),
            _static_model_bc(spark),
            PipelineConfig(disambiguator="generative", confidence=0.0,
                           support=0, types=_TYPE_WHITELIST,
                           policy="whitelist"),
        )
        .withColumn("types", F.concat_ws(",", "types"))
        .withColumn("similarity_score", F.round("similarity_score", 9))
        .withColumn("percentage_of_second_rank",
                    F.round("percentage_of_second_rank", 9))
    )


def sql_annotate_typed() -> str:
    allowed = [r[0] for r in LEX.entity_rows()
               if set(r[3]) & set(_TYPE_WHITELIST)]
    inlist = ", ".join(f"'{u}'" for u in allowed)
    return f"""
  SELECT * FROM ({_sql_generative(k=1)}) g
  WHERE g.uri IN ({inlist})"""


def q_annotate_coref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 coreference merge through the fused path: a later, shorter
    mention whose token sequence suffix-matches an earlier longer
    mention's surface form inherits that mention's entity (and its
    support/types follow the rewritten entity)."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    return (
        annotate(
            spark, _web_pages_from_docs(spark, sf_dir),
            _static_model_bc(spark),
            PipelineConfig(disambiguator="generative", confidence=0.0,
                           support=0, coreference=True),
        )
        .withColumn("types", F.concat_ws(",", "types"))
        .withColumn("similarity_score", F.round("similarity_score", 9))
        .withColumn("percentage_of_second_rank",
                    F.round("percentage_of_second_rank", 9))
    )


def sql_annotate_coref() -> str:
    """Oracle: the k=1 generative result post-processed by the coref
    rewrite. For this lexicon the inherit relation is a deterministic
    map — each bigram sf has a unique last token and a single candidate
    entity, so a unigram mention inherits iff the matching bigram was
    spotted EARLIER (strictly smaller begin) in the same doc. Scores are
    kept; uri/support/types follow the inherited entity (exactly
    pipeline._coref_merge's contract)."""
    support = {r[0]: r[2] for r in LEX.entity_rows()}
    types_str = {r[0]: ",".join(r[3]) for r in LEX.entity_rows()}
    gated = _gated_sfs()
    rows = []
    for bi_sf, cands in gated.items():
        if " " not in bi_sf:
            continue
        last = bi_sf.split()[-1]
        if last not in gated:
            continue  # suffix token is not itself a surface form
        assert len(cands) == 1
        u = LEX.DBP + cands[0][0]
        rows.append(f"('{last}', '{bi_sf}', '{u}', {support[u]}, "
                    f"'{types_str[u]}')")
    mapping = ",\n    ".join(rows)
    first_bi = _sql_spot_ctes() + """
  SELECT d.source || '/' || CAST(b.doc_id AS VARCHAR) AS url,
         b.sf, min(b."begin") AS first_begin
  FROM bi b JOIN endocs d ON d.doc_id = b.doc_id
  GROUP BY 1, 2"""
    return f"""
  SELECT g.url, g."begin", g."end", g.surface_form,
         CASE WHEN fb.first_begin IS NOT NULL AND fb.first_begin < g."begin"
              THEN m.uri2 ELSE g.uri END AS uri,
         g.rank, g.similarity_score, g.percentage_of_second_rank,
         CASE WHEN fb.first_begin IS NOT NULL AND fb.first_begin < g."begin"
              THEN m.support2 ELSE g.support END AS support,
         CASE WHEN fb.first_begin IS NOT NULL AND fb.first_begin < g."begin"
              THEN m.types2 ELSE g.types END AS types
  FROM ({_sql_generative(k=1)}) g
  LEFT JOIN (VALUES
    {mapping}
  ) m(uni_sf, bi_sf, uri2, support2, types2) ON m.uni_sf = g.surface_form
  LEFT JOIN ({first_bi}) fb ON fb.url = g.url AND fb.sf = m.bi_sf"""


def sql_candidates_generative() -> str:
    return _sql_generative(k=3)


# T2 stemming contract query: the corpus text is deterministically
# inflected (base → plural) and annotated with the Porter-stemmed model —
# inflected mentions ("tables", "hash joins") must match the lexicon's
# base surface forms via stem-time normalization (Stemmer.scala [U]).
_PLURAL_MAP = {
    "table": "tables", "join": "joins", "window": "windows",
    "stream": "streams", "filter": "filters", "query": "queries",
    "column": "columns", "merge": "merges", "vector": "vectors",
    "customer": "customers",
}


def _pluralized_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with every _PLURAL_MAP base token rewritten to its
    plural — a per-token rewrite (split → map → single-space join), so
    the DuckDB mirror can apply the same CASE map per token."""
    def plural(t):
        expr = t
        for base, pl in _PLURAL_MAP.items():
            expr = F.when(t == F.lit(base), F.lit(pl)).otherwise(expr)
        return expr

    return _docs(spark, sf_dir).select(
        F.concat_ws("/", "source", "doc_id").alias("url"),
        F.array_join(F.transform(F.split("text", " "), plural), " ")
         .alias("text"),
        "lang",
    )


def q_annotate_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 through the FULL fused path: Porter-stemmed model over
    pluralized text — FSA patterns, token-index lookups and the context
    vocab are all keyed on stems, so "tables" spots sf "table" and
    "hash joins" spots sf "hash join" (offsets index the inflected
    text; surface_form reports the lexicon's canonical sf). Prior
    disambiguation (D8) keeps the oracle fully relational."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    return annotate(
        spark, _pluralized_pages(spark, sf_dir),
        _static_model_bc(spark, stemmer="porter"),
        PipelineConfig(disambiguator="prior", confidence=0.0, support=0),
    ).withColumn("types", F.concat_ws(",", "types")) \
     .withColumn("similarity_score", F.round("similarity_score", 9)) \
     .withColumn("percentage_of_second_rank",
                 F.round("percentage_of_second_rank", 9))


def sql_annotate_stemmed() -> str:
    """DuckDB mirror of q_annotate_stemmed: per-token plural rewrite
    (CASE map), stem lookup via an inlined (token → stem) map computed
    with the SAME Porter implementation over the closed corpus/plural
    token universe, stemmed unigram/bigram pattern joins with greedy
    longest-match overlap resolution (valid: no two stemmed bigram
    patterns share an endpoint stem), then prior-only scoring — score =
    ln P(e|s), softmax sim, second-rank margin — exactly the fused D8
    path."""
    from dbpedia_spotlight_spark.functions.stemmer import get_stemmer

    stem = get_stemmer("porter")
    # per-token rewrite CASE
    plural_case = " ".join(
        f"WHEN u.tok = '{b}' THEN '{p}'" for b, p in _PLURAL_MAP.items())
    # closed token universe of the REWRITTEN text: corpus vocab with bases
    # swapped for plurals (plus bases kept — harmless) + 'dup' (in the
    # corpus but not VOCAB); LEFT JOIN + COALESCE guards any stragglers
    universe = sorted(set(LEX.VOCAB) | {"dup"} | set(_PLURAL_MAP.values()))
    stem_vals = ", ".join(f"('{t}', '{stem(t)}')" for t in universe)

    gated = _gated_sfs()
    support = {r[0]: r[2] for r in LEX.entity_rows()}
    types_str = {r[0]: ",".join(r[3]) for r in LEX.entity_rows()}
    uni_pat, bi_pat, cand_rows, single_rows = [], [], [], []
    for sf, cands in gated.items():
        toks = sf.split()
        if len(toks) == 1:
            uni_pat.append(f"('{stem(toks[0])}', '{sf}')")
        else:
            bi_pat.append(
                f"('{stem(toks[0])}', '{stem(toks[1])}', '{sf}')")
        tot = sum(c for (_, c) in cands)
        if len(cands) == 1:
            u = LEX.DBP + cands[0][0]
            single_rows.append(
                f"('{sf}', '{u}', {support[u]}, '{types_str[u]}')")
        else:
            for (usfx, c) in cands:
                u = LEX.DBP + usfx
                cand_rows.append(
                    f"('{sf}', '{u}', CAST({c} AS DOUBLE)/{tot}, "
                    f"{support[u]}, '{types_str[u]}')")

    return f"""
  WITH endocs AS (
    SELECT doc_id, source, text FROM documents WHERE lang = 'en'
  ),
  toks AS (
    SELECT d.doc_id, u.pos - 1 AS pos,
           CASE {plural_case} ELSE u.tok END AS tok
    FROM endocs d, LATERAL (
      SELECT UNNEST(string_split(d.text, ' ')) AS tok,
             generate_subscripts(string_split(d.text, ' '), 1) AS pos
    ) u
  ),
  stemmap AS (SELECT * FROM (VALUES {stem_vals}) AS t(tok, st)),
  offs AS (
    SELECT t.doc_id, t.pos, t.tok, COALESCE(m.st, t.tok) AS st,
           CAST(COALESCE(SUM(length(t.tok) + 1) OVER (
             PARTITION BY t.doc_id ORDER BY t.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER)
             AS "begin",
           CAST(COALESCE(SUM(length(t.tok) + 1) OVER (
             PARTITION BY t.doc_id ORDER BY t.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + length(t.tok) AS INTEGER) AS "end"
    FROM toks t LEFT JOIN stemmap m ON m.tok = t.tok
  ),
  nxt AS (
    SELECT doc_id, pos, st, "begin", "end",
           lead(st) OVER w AS st2, lead("end") OVER w AS end2
    FROM offs WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ),
  bi AS (
    SELECT n.doc_id, n."begin", n.end2 AS "end", b.sf, n.pos
    FROM nxt n JOIN (VALUES {", ".join(bi_pat)}) b(s1, s2, sf)
      ON n.st = b.s1 AND n.st2 = b.s2
  ),
  covered AS (
    SELECT doc_id, pos FROM bi UNION ALL SELECT doc_id, pos + 1 FROM bi
  ),
  uni AS (
    SELECT o.doc_id, o."begin", o."end", u.sf, o.pos
    FROM offs o JOIN (VALUES {", ".join(uni_pat)}) u(st, sf) ON o.st = u.st
    WHERE NOT EXISTS (SELECT 1 FROM covered c
                      WHERE c.doc_id = o.doc_id AND c.pos = o.pos)
  ),
  spots AS (
    SELECT doc_id, "begin", "end", sf FROM uni
    UNION ALL SELECT doc_id, "begin", "end", sf FROM bi
  ),
  cand AS (SELECT * FROM (VALUES
      {", ".join(cand_rows)}
    ) AS t(sf, uri, prior, support, types)),
  sing AS (SELECT * FROM (VALUES
      {", ".join(single_rows)}
    ) AS t(sf, uri, support, types)),
  score AS (
    SELECT ds.doc_id, c.sf, c.uri, c.support, c.types,
           ln(c.prior) AS score
    FROM (SELECT DISTINCT doc_id, sf FROM spots) ds
    JOIN cand c ON c.sf = ds.sf
  ),
  shifted AS (
    SELECT *, score - max(score) OVER (PARTITION BY doc_id, sf) AS sh
    FROM score
  ),
  ranked AS (
    SELECT *,
           row_number() OVER wo AS rn,
           exp(sh) / sum(exp(sh)) OVER wp AS sim,
           coalesce(exp(lead(score) OVER wo - score), 0.0) AS pct2
    FROM shifted
    WINDOW wp AS (PARTITION BY doc_id, sf),
           wo AS (PARTITION BY doc_id, sf ORDER BY score DESC, uri ASC)
  ),
  ann AS (
    SELECT sp.doc_id, sp."begin", sp."end", sp.sf AS surface_form,
           r.uri, r.support, r.types, r.rn AS rank, r.sim, r.pct2
    FROM spots sp JOIN ranked r
      ON r.doc_id = sp.doc_id AND r.sf = sp.sf AND r.rn <= 1
    UNION ALL
    SELECT sp.doc_id, sp."begin", sp."end", sp.sf,
           s.uri, s.support, s.types, 1 AS rank, 1.0, 0.0
    FROM spots sp JOIN sing s ON s.sf = sp.sf
  )
  SELECT d.source || '/' || CAST(a.doc_id AS VARCHAR) AS url,
         a."begin", a."end", a.surface_form, a.uri,
         CAST(a.rank AS INTEGER) AS rank,
         round(a.sim, 9) AS similarity_score,
         round(a.pct2, 9) AS percentage_of_second_rank,
         CAST(a.support AS BIGINT) AS support,
         a.types
  FROM ann a JOIN endocs d ON d.doc_id = a.doc_id"""


def q_annotate_tficf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 TF-ICF disambiguation (Mendes 2011) through the fused path —
    score(e) = ln P(e|s) + Σ_t n(t)·tf(t,e)·icf(t), icf computed over
    the mention's candidate set. The (sf, token) → per-candidate weight
    table is static for this lexicon, so the oracle joins the doc bag
    against precomputed tf·icf weights and reuses the softmax windows."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    return (
        annotate(
            spark, _web_pages_from_docs(spark, sf_dir),
            _static_model_bc(spark),
            PipelineConfig(disambiguator="tficf", confidence=0.0,
                           support=0),
        )
        .withColumn("types", F.concat_ws(",", "types"))
        .withColumn("similarity_score", F.round("similarity_score", 9))
        .withColumn("percentage_of_second_rank",
                    F.round("percentage_of_second_rank", 9))
    )


def sql_annotate_tficf() -> str:
    import math

    support = {r[0]: r[2] for r in LEX.entity_rows()}
    types_str = {r[0]: ",".join(r[3]) for r in LEX.entity_rows()}
    ctx = {LEX.DBP + u: c for u, c in LEX.ENTITY_CONTEXT.items()}
    ctot = {u: float(sum(c.values())) for u, c in ctx.items()}

    cand_rows, single_rows, w_rows = [], [], []
    for sf, cands in _gated_sfs().items():
        tot = sum(c for (_, c) in cands)
        if len(cands) == 1:
            u = LEX.DBP + cands[0][0]
            single_rows.append(
                f"('{sf}', '{u}', {support[u]}, '{types_str[u]}')")
            continue
        uris = [LEX.DBP + usfx for (usfx, _c) in cands]
        for (usfx, c) in cands:
            u = LEX.DBP + usfx
            cand_rows.append(
                f"('{sf}', '{u}', CAST({c} AS DOUBLE)/{tot}, "
                f"{support[u]}, '{types_str[u]}')")
        # per (sf, token): df over the sf's candidate set → icf; emit one
        # weight row per (sf, token, uri) with tf>0 (tf=0 terms vanish)
        tokens = {t for u in uris for t in ctx.get(u, {})}
        n = len(uris)
        for t in sorted(tokens):
            df = sum(1 for u in uris if ctx.get(u, {}).get(t, 0) > 0)
            icf = math.log(n / max(df, 1)) if df > 0 else 0.0
            if icf == 0.0:
                continue  # token seen by every candidate → zero weight
            for u in uris:
                c_te = ctx.get(u, {}).get(t, 0)
                if c_te > 0:
                    w = (c_te / max(ctot[u], 1e-300)) * icf
                    w_rows.append(
                        f"('{sf}', '{t}', '{u}', CAST('{w!r}' AS DOUBLE))")
    vocab_vals = ", ".join(
        f"'{t}'" for t in sorted(set(LEX.VOCAB)) if t not in LEX.STOPWORDS)
    return _sql_spot_ctes() + f""",
  bag AS (
    SELECT doc_id, tok AS token, count(*) AS n FROM toks
    WHERE tok IN ({vocab_vals}) GROUP BY 1, 2
  ),
  cand AS (SELECT * FROM (VALUES
      {",".join(cand_rows)}
    ) AS t(sf, uri, prior, support, types)),
  sing AS (SELECT * FROM (VALUES
      {",".join(single_rows)}
    ) AS t(sf, uri, support, types)),
  w AS (SELECT * FROM (VALUES
      {",".join(w_rows)}
    ) AS t(sf, token, uri, wgt)),
  ctx AS (
    SELECT b.doc_id, w.sf, w.uri, SUM(b.n * w.wgt) AS ctxscore
    FROM bag b JOIN w ON w.token = b.token
    GROUP BY 1, 2, 3
  ),
  score AS (
    SELECT ds.doc_id, c.sf, c.uri, c.support, c.types,
           ln(c.prior) + COALESCE(x.ctxscore, 0.0) AS score
    FROM (SELECT DISTINCT doc_id, sf FROM spots) ds
    JOIN cand c ON c.sf = ds.sf
    LEFT JOIN ctx x ON x.doc_id = ds.doc_id AND x.sf = c.sf
                   AND x.uri = c.uri
  ),
  shifted AS (
    SELECT *, score - max(score) OVER (PARTITION BY doc_id, sf) AS sh
    FROM score
  ),
  ranked AS (
    SELECT *,
           row_number() OVER wo AS rn,
           exp(sh) / sum(exp(sh)) OVER wp AS sim,
           coalesce(exp(lead(score) OVER wo - score), 0.0) AS pct2
    FROM shifted
    WINDOW wp AS (PARTITION BY doc_id, sf),
           wo AS (PARTITION BY doc_id, sf ORDER BY score DESC, uri ASC)
  ),
  ann AS (
    SELECT sp.doc_id, sp."begin", sp."end", sp.sf AS surface_form,
           r.uri, r.support, r.types, r.rn AS rank, r.sim, r.pct2
    FROM spots sp JOIN ranked r
      ON r.doc_id = sp.doc_id AND r.sf = sp.sf AND r.rn = 1
    UNION ALL
    SELECT sp.doc_id, sp."begin", sp."end", sp.sf,
           s.uri, s.support, s.types, 1 AS rank, 1.0, 0.0
    FROM spots sp JOIN sing s ON s.sf = sp.sf
  )
  SELECT d.source || '/' || CAST(a.doc_id AS VARCHAR) AS url,
         a."begin", a."end", a.surface_form, a.uri,
         CAST(a.rank AS INTEGER) AS rank,
         round(a.sim, 9) AS similarity_score,
         round(a.pct2, 9) AS percentage_of_second_rank,
         CAST(a.support AS BIGINT) AS support,
         a.types
  FROM ann a JOIN endocs d ON d.doc_id = a.doc_id"""


def q_annotate_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship with the QUANTIZED context store (M6 through the
    whole pipeline — int16 codebook round-trip at model compile, the
    north_star's 'quantized token counts'). Oracle = the generative SQL
    with counts mapped through the same codebook."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    return (
        annotate(
            spark, _web_pages_from_docs(spark, sf_dir),
            _static_model_bc(spark, quantized=True),
            PipelineConfig(disambiguator="generative", confidence=0.0,
                           support=0),
        )
        .withColumn("types", F.concat_ws(",", "types"))
        .withColumn("similarity_score", F.round("similarity_score", 9))
        .withColumn("percentage_of_second_rank",
                    F.round("percentage_of_second_rank", 9))
    )


def sql_annotate_quantized() -> str:
    return _sql_generative(k=1, quantize=True)


def q_spot_fsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 full FSA spotting (multi-token surface forms incl. 'hash
    join'), now fully oracle-paired via the relational spot CTEs."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, spot
    return spot(spark, _web_pages_from_docs(spark, sf_dir),
                _static_model_bc(spark), PipelineConfig())


def sql_spot_fsa() -> str:
    sf_ids = {sf: i for i, sf in
              enumerate(sorted(LEX.SF_CANDIDATES_GATED))}
    rows = ",\n    ".join(
        f"('{sf}', {sf_ids[sf]}, {LEX.SF_COUNTS[sf][0]}, "
        f"{LEX.SF_COUNTS[sf][1]})"
        for sf in sorted(_gated_sfs())
    )
    return _sql_spot_ctes() + f""",
  sfs AS (SELECT * FROM (VALUES
    {rows}
  ) AS t(sf, sf_id, a, tot))
  SELECT d.source || '/' || CAST(s.doc_id AS VARCHAR) AS url,
         s."begin", s."end", s.sf AS surface_form,
         CAST(f.sf_id AS INTEGER) AS sf_id,
         CAST(f.a AS DOUBLE) / f.tot AS annotation_probability
  FROM spots s
  JOIN sfs f ON f.sf = s.sf
  JOIN endocs d ON d.doc_id = s.doc_id"""


def q_spot_npchunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 chunk-exact precision spotter through the fused path: chunks
    are maximal stopword-free token runs; a spot is emitted only when
    the WHOLE chunk is a (gated) lexicon surface form — the
    OpenNLPChunkerSpotter's lookup-the-NP-chunk semantics [U] with a
    model-free shallow-chunk heuristic. Non-vacuous vs spot_fsa: chunks
    with extra modifier tokens ('big table scan') produce NO spot even
    though an sf is embedded."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, spot
    return spot(spark, _web_pages_from_docs(spark, sf_dir),
                _static_model_bc(spark), PipelineConfig(spotter="npchunk"))


def sql_spot_npchunk() -> str:
    sf_ids = {sf: i for i, sf in
              enumerate(sorted(LEX.SF_CANDIDATES_GATED))}
    rows = ",\n    ".join(
        f"('{sf}', {sf_ids[sf]}, {LEX.SF_COUNTS[sf][0]}, "
        f"{LEX.SF_COUNTS[sf][1]})"
        for sf in sorted(_gated_sfs())
    )
    stop_list = ", ".join(f"'{s}'" for s in sorted(LEX.STOPWORDS))
    return f"""
  WITH endocs AS (
    SELECT doc_id, source, text FROM documents WHERE lang = 'en'
  ),
  toks AS (
    SELECT d.doc_id, u.pos - 1 AS pos, u.tok
    FROM endocs d, LATERAL (
      SELECT UNNEST(string_split(d.text, ' ')) AS tok,
             generate_subscripts(string_split(d.text, ' '), 1) AS pos
    ) u
  ),
  offs AS (
    SELECT doc_id, pos, tok,
           (tok IN ({stop_list})) AS is_stop,
           CAST(COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER)
             AS "begin",
           CAST(COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + length(tok) AS INTEGER) AS "end"
    FROM toks
  ),
  marked AS (
    SELECT *, SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
    FROM offs
  ),
  chunks AS (
    SELECT doc_id, chunk_id,
           string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
           MIN("begin") AS "begin", MAX("end") AS "end"
    FROM marked WHERE NOT is_stop
    GROUP BY doc_id, chunk_id
  ),
  sfs AS (SELECT * FROM (VALUES
    {rows}
  ) AS t(sf, sf_id, a, tot))
  SELECT d.source || '/' || CAST(c.doc_id AS VARCHAR) AS url,
         c."begin", c."end", c.chunk_text AS surface_form,
         CAST(f.sf_id AS INTEGER) AS sf_id,
         CAST(f.a AS DOUBLE) / f.tot AS annotation_probability
  FROM chunks c
  JOIN sfs f ON f.sf = c.chunk_text
  JOIN endocs d ON d.doc_id = c.doc_id"""


def q_candidates_generative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/candidates with generative scores, bestK=3 — oracle-paired via
    the k=3 form of the generative SQL (``types`` flattened and scores
    rounded for the driver canonicalizer)."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, candidates
    return (
        candidates(spark, _web_pages_from_docs(spark, sf_dir),
                   _static_model_bc(spark),
                   PipelineConfig(disambiguator="generative", k=3))
        .withColumn("types", F.concat_ws(",", "types"))
        .withColumn("similarity_score", F.round("similarity_score", 9))
        .withColumn("percentage_of_second_rank",
                    F.round("percentage_of_second_rank", 9))
    )


def q_model_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full offline model build M1–M5 over the corpus, using the emitted
    prior links as training links; returns the surface_forms table."""
    return _model_tables(spark, sf_dir)["surface_forms"]


def sql_model_build() -> str:
    """Oracle for the surface_forms model table: annotated counts are the
    per-sf marginal of the prior links; total counts re-count every
    occurrence of the sf token sequence in the corpus (the testdata
    corpus is pure space-separated lowercase words, so the ungated
    automaton scan reduces to a token-equality count — asserted by the
    spot_unigram oracle passing on the same tokenization)."""
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  ann AS (
    SELECT lower(surface_form) AS sf, count(*) AS annotated_count
    FROM ranked WHERE rank = 1 GROUP BY 1
  ),
  tot AS (
    SELECT t.tok AS sf, count(*) AS total_count
    FROM toks t JOIN ann a ON t.tok = a.sf
    GROUP BY 1
  ),
  sfs AS (
    SELECT a.sf, a.annotated_count,
           greatest(coalesce(tot.total_count, 0), a.annotated_count)
             AS total_count
    FROM ann a LEFT JOIN tot ON a.sf = tot.sf
  )
  SELECT sf,
         CAST(row_number() OVER (ORDER BY sf) - 1 AS INTEGER) AS sf_id,
         annotated_count, total_count
  FROM sfs"""
    )


def _model_tables(spark: SparkSession, sf_dir: str) -> dict:
    from dbpedia_spotlight_spark.plans.model_build import build_model_tables
    corpus = _docs(spark, sf_dir).select(
        F.concat_ws("/", "source", "doc_id").alias("url"), "text"
    )
    links = q_annotate_prior(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", "source"), "doc_id"
    ).select(
        F.concat_ws("/", "source", "doc_id").alias("url"),
        "begin", "end", F.col("surface_form").alias("sf"), "uri",
    )
    return build_model_tables(spark, corpus, links,
                              stopwords=list(LEX.STOPWORDS))


def q_model_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-build entities table (uri, dense id, support); the empty
    types array is dropped for the driver canonicalizer."""
    return _model_tables(spark, sf_dir)["entities"].select(
        "uri", "entity_id", "support")


def sql_model_entities() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  uc AS (SELECT uri, count(*) AS support FROM ranked WHERE rank = 1
         GROUP BY uri)
  SELECT uri,
         CAST(row_number() OVER (ORDER BY uri) - 1 AS INTEGER) AS entity_id,
         support
  FROM uc"""
    )


def q_model_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 context token histograms: tokens of the paragraph each
    training link sits in, re-aggregated per (entity, token). The
    testdata corpus has no newlines → one paragraph per doc, so the
    oracle is the links ⋈ token-occurrences join on doc with dense-id
    mapping (each link contributes its doc's full token stream)."""
    return _model_tables(spark, sf_dir)["token_counts"]


def sql_model_token_counts() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  links AS (SELECT doc_id, uri FROM ranked WHERE rank = 1),
  tt AS (
    SELECT tok AS token,
           CAST(row_number() OVER (ORDER BY tok) - 1 AS INTEGER) AS token_id
    FROM (SELECT DISTINCT tok FROM toks)
  ),
  ent AS (
    SELECT uri,
           CAST(row_number() OVER (ORDER BY uri) - 1 AS INTEGER) AS entity_id
    FROM (SELECT DISTINCT uri FROM links)
  ),
  cnt AS (
    SELECT l.uri, t.tok, count(*) AS count
    FROM links l JOIN toks t ON t.doc_id = l.doc_id
    GROUP BY 1, 2
  )
  SELECT e.entity_id, tt.token_id, cnt.count
  FROM cnt JOIN ent e USING (uri) JOIN tt ON tt.token = cnt.tok"""
    )


# --- source formats S2/S3 over fixed deterministic inputs ---

_HTML_FIXTURE = [
    ("h/1", "<html><head><title>T</title><style>p{color:red}</style></head>"
            "<body><p>Hello &amp; <b>world</b></p><script>x=1</script>"
            "<div>second   line</div></body></html>"),
    ("h/2", "<ul><li>one</li><li>two &lt;3</li></ul><noscript>hidden"
            "</noscript>tail"),
    ("h/3", "plain text, no markup"),
]


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 HTML→text extraction (the byte-identical-per-url contract) on
    fixed HTML through the pandas-UDF path; golden expectations are
    recomputed driver-side from the same frozen stripper spec."""
    from dbpedia_spotlight_spark.pipeline import extract_text
    df = spark.createDataFrame(
        [(u, h.encode("utf-8")) for (u, h) in _HTML_FIXTURE],
        "url string, html binary")
    return extract_text(df).select("url", "extracted_text")


def sql_extract_text() -> str:
    from dbpedia_spotlight_spark.functions.extraction import strip_html
    rows = ",\n    ".join(
        "('{}', '{}')".format(
            u, strip_html(h.encode("utf-8")).replace("'", "''"))
        for (u, h) in _HTML_FIXTURE
    )
    return f"""
  SELECT url, extracted_text
  FROM (VALUES {rows}) AS t(url, extracted_text)"""


_SPOTXML_FIXTURE = [
    ("x/1", '<annotation text="the table row column scan query">'
            '<surfaceForm name="table" offset="4"/></annotation>'),
    ("x/2", '<annotation text="slow line spark">'
            '<surfaceForm name="spark" offset="10"/></annotation>'),
]

_WIKI_FIXTURE = [
    ("w/1", "'''Apache Spark''' is a [[Apache Spark|unified engine]] for "
            "[[data processing]].{{infobox|x=1}}<ref>cite</ref>"),
    ("w/2", "== Heading ==\nSee [[Merge sort]] and [[File:X.png|thumb]] "
            "and [[Category:Algorithms]]."),
    ("w/3", "<!-- note -->[[Hash join|hash joins]] beat [[Nested loop"
            " join]]s {{cite|p=3}} sometimes."),
]


def q_spotxml_disambiguate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 /disambiguate end-to-end on fixed pre-spotted XML: parse +
    candidate lookup + generative disambiguation against the static
    model. Oracle = hand-derived golden rows (contexts are engineered so
    the winner is unambiguous: DB-ish context → Table_(database); the
    slow/line context overwhelms Apache_Spark's 0.9 prior →
    Spark_(fire))."""
    from dbpedia_spotlight_spark.sources.spotxml import disambiguate_xml
    df = spark.createDataFrame(_SPOTXML_FIXTURE, "url string, xml string")
    out = disambiguate_xml(spark, df, _static_model_bc(spark))
    return out.select("url", "begin", "end", "surface_form", "uri")


def sql_spotxml_disambiguate() -> str:
    dbp = LEX.DBP
    return f"""
  SELECT url, CAST("begin" AS INTEGER) AS "begin",
         CAST("end" AS INTEGER) AS "end", surface_form, uri
  FROM (VALUES
    ('x/1', 4, 9, 'table', '{dbp}Table_(database)'),
    ('x/2', 10, 15, 'spark', '{dbp}Spark_(fire)')
  ) AS t(url, "begin", "end", surface_form, uri)"""


def q_tsv_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 raw-counts TSV ingestion → lexicon build, incl. K1 redirect
    canonicalization merging counts (B→A): returns the assembled
    pair_counts re-joined to names. Oracle = hand-written golden rows
    (fully independent — the fixture is designed on paper)."""
    import os
    import tempfile
    from dbpedia_spotlight_spark.sources.tsv import lexicon_from_tsv

    d = os.path.join(tempfile.gettempdir(), "spark_graft_tsv_fixture")
    os.makedirs(d, exist_ok=True)
    files = {
        "uriCounts.tsv": "A\t10\nB\t5\nC\t7\n",
        "pairCounts.tsv": "x\tA\t4\nx\tB\t2\ny\tC\t3\n",
        "sfAndTotalCounts.tsv": "x\t6\t10\ny\t3\t-1\n",
        "tokenCounts.tsv": 'A\t{"alpha": 3, "beta": 1}\nC\t{"beta": 2}\n',
    }
    # ALWAYS overwrite (files are tiny): an exists-check would let stale
    # fixtures from an older code version or concurrent session feed the
    # query and produce confusing oracle mismatches
    for name, content in files.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(content)
    redirects = spark.createDataFrame(
        [("B", "A")], "src_uri string, dst_uri string")
    tables = lexicon_from_tsv(
        spark,
        f"{d}/uriCounts.tsv", f"{d}/pairCounts.tsv",
        f"{d}/sfAndTotalCounts.tsv", f"{d}/tokenCounts.tsv",
        redirects=redirects,
    )
    sf = tables["surface_forms"].select("sf", "sf_id")
    ent = tables["entities"].select("uri", "entity_id", "support")
    return (
        tables["pair_counts"]
        .join(sf, "sf_id").join(ent, "entity_id")
        .select("sf", "uri", F.col("count").alias("pair_count"), "support")
    )


def sql_tsv_lexicon() -> str:
    # designed on paper: redirect B→A merges pair (x,B,2) into (x,A)→6
    # and uri count 5 into A→15; sf 'y' total floors at annotated (=-1
    # raw). C keeps 7.
    return """
  SELECT sf, uri, CAST(pair_count AS BIGINT) AS pair_count,
         CAST(support AS BIGINT) AS support
  FROM (VALUES
    ('x', 'A', 6, 15),
    ('y', 'C', 3, 7)
  ) AS t(sf, uri, pair_count, support)"""


def q_wiki_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 wiki-markup training-link extraction on fixed wikitext:
    template/ref/comment stripping, anchor offsets into the PLAIN text,
    media/category links dropped, K3 URI encoding. Oracle = golden rows
    recomputed driver-side from the same fixture (checks the
    mapInPandas plumbing + URI wiring end-to-end)."""
    from dbpedia_spotlight_spark.sources.wikimarkup import wiki_links
    df = spark.createDataFrame(_WIKI_FIXTURE, "url string, wikitext string")
    return wiki_links(df)


def sql_wiki_links() -> str:
    from dbpedia_spotlight_spark.sources.wikimarkup import strip_wiki_markup
    from dbpedia_spotlight_spark.plans.closure import wiki_title_to_dbpedia_uri
    rows = []
    for url, wt in _WIKI_FIXTURE:
        _, anchors = strip_wiki_markup(wt)
        for (b, e, anchor, target) in anchors:
            uri = wiki_title_to_dbpedia_uri(target)
            rows.append(f"('{url}', {b}, {e}, '{anchor}', '{uri}')")
    values = ",\n    ".join(rows)
    return f"""
  SELECT url, CAST("begin" AS INTEGER) AS "begin",
         CAST("end" AS INTEGER) AS "end", sf, uri
  FROM (VALUES {values}) AS t(url, "begin", "end", sf, uri)"""


# ---------------------------------------------------------------------------
# Training-data operators (dedup / similarity / text stats)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy; duplicates planted by
    unioning doc_id<50 back in (testdata has no exact dups)."""
    from dbpedia_spotlight_spark.operators.dedup import exact_duplicates
    d = _docs(spark, sf_dir)
    return exact_duplicates(d.unionByName(d.filter(F.col("doc_id") < 50)))


def sql_dedup_exact() -> str:
    return """
  WITH all_docs AS (
    SELECT * FROM documents
    UNION ALL SELECT * FROM documents WHERE doc_id < 50
  )
  SELECT md5(text) AS text_hash, count(*) AS n_docs,
         min(doc_id) AS keeper_id
  FROM all_docs GROUP BY 1 HAVING count(*) >= 2"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbpedia_spotlight_spark.operators.textstats import content_fingerprint
    return content_fingerprint(_docs(spark, sf_dir))


def sql_fingerprint() -> str:
    # the product side is Spark's JAVA regex \s = [ \t\n\x0B\f\r]; RE2's
    # \s omits \x0B — spell the class out so the engines agree on every
    # input, not just whitespace-clean corpora
    return ("SELECT doc_id, md5(trim(regexp_replace(lower(text),"
            " '[\\x{0009}-\\x{000d} ]+', ' ', 'g')))"
            " AS fingerprint FROM documents")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbpedia_spotlight_spark.operators.dedup import simhash
    return simhash(_docs(spark, sf_dir), bits=16)


def sql_simhash() -> str:
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(16)
    )
    pack = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
    )
    return f"""
  WITH tok AS (
    SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS t
    FROM documents
  ),
  hashed AS (
    SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
  ),
  votes AS (
    SELECT doc_id,
           {votes}
    FROM hashed GROUP BY doc_id
  )
  SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM votes"""


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs at Hamming<=3 with pigeonhole-exact
    4-block candidate generation (recall 1.0 ⇒ output ≡ brute force, so a
    full all-pairs DuckDB oracle applies). Duplicate docs are planted
    (doc_id<20 offset by 1e6) so the check can't pass vacuously."""
    from dbpedia_spotlight_spark.operators.dedup import simhash_near_pairs
    d = _docs(spark, sf_dir).select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return simhash_near_pairs(d.unionByName(planted), bits=64, max_hamming=3)


def sql_simhash_near_pairs() -> str:
    votes = []
    for i in range(64):
        src = f"(h >> {i})" if i < 60 else f"(h2 >> {i - 60})"
        votes.append(
            f"SUM(CASE WHEN {src} & 1 = 1 THEN 1 ELSE -1 END) AS v{i}")
    bit63 = "(-9223372036854775807 - 1)"
    pack = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {bit63 if i == 63 else (1 << i)} "
        f"ELSE 0 END)"
        for i in range(64)
    )
    votes_sql = ",\n           ".join(votes)
    return f"""
  WITH all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20
  ),
  tok AS (
    SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS t FROM all_docs
  ),
  hashed AS (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 15))::BIGINT AS h,
           ('0x' || substr(md5(t), 16, 15))::BIGINT AS h2
    FROM tok
  ),
  votes AS (
    SELECT doc_id,
           {votes_sql}
    FROM hashed GROUP BY doc_id
  ),
  sig AS (SELECT doc_id, CAST({pack} AS BIGINT) AS s FROM votes)
  SELECT x.doc_id AS a, y.doc_id AS b,
         CAST(bit_count(xor(x.s, y.s)) AS INTEGER) AS hamming
  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
  WHERE bit_count(xor(x.s, y.s)) <= 3"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.03 — the testdata
    corpus shares shingles but has no true near-dups). ``max_bucket=None``
    opts into the EXACT uncapped mode the all-pairs oracle requires; the
    operator's default is the capped corpus-safe mode."""
    from dbpedia_spotlight_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.03,
                               max_bucket=None)


def sql_jaccard_pairs() -> str:
    return """
  WITH sh AS (
    SELECT DISTINCT doc_id AS id, s FROM (
      SELECT doc_id, UNNEST(
        CASE WHEN len(string_split(lower(text), ' ')) >= 3 THEN
          list_transform(range(0, len(string_split(lower(text), ' ')) - 2),
            i -> array_to_string(list_slice(string_split(lower(text), ' '),
                                            i + 1, i + 3), ' '))
        ELSE [array_to_string(string_split(lower(text), ' '), ' ')] END) AS s
      FROM documents)
  ),
  sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
  inter AS (
    SELECT x.id AS a, y.id AS b, count(*) AS i
    FROM sh x JOIN sh y ON x.s = y.s AND x.id < y.id
    GROUP BY 1, 2
  )
  SELECT a, b, i / (na.n + nb.n - i) AS jaccard
  FROM inter JOIN sizes na ON inter.a = na.id
             JOIN sizes nb ON inter.b = nb.id
  WHERE i / (na.n + nb.n - i) >= 0.03"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs — fully oracle-paired: every hash in
    the pipeline is md5-derived with inlined affine coefficients exactly
    so DuckDB can recompute signatures, band hashes, bucket caps and the
    pair expansion independently (the design reason for avoiding Spark-
    private hash functions, dedup.py module docstring)."""
    from dbpedia_spotlight_spark.operators.dedup import minhash_candidate_pairs
    return minhash_candidate_pairs(_docs(spark, sf_dir), n_hashes=16, bands=4)


def sql_minhash_pairs(n_hashes: int = 16, bands: int = 4,
                      max_bucket: int = 1000) -> str:
    from dbpedia_spotlight_spark.operators.dedup import MERSENNE61, hash_family
    fam = hash_family(n_hashes)
    sig_cols = ",\n    ".join(
        f"MIN((h * {a} + {b}) % {MERSENNE61}) AS h{j}"
        for j, (a, b) in enumerate(fam)
    )
    per_band = n_hashes // bands
    band_rows = []
    for bi in range(bands):
        parts = " || ',' || ".join(
            f"CAST(h{bi * per_band + j} AS VARCHAR)" for j in range(per_band)
        )
        band_rows.append(f"SELECT id, {bi} AS band, md5({parts}) AS bh FROM sig")
    bands_sql = "\n    UNION ALL ".join(band_rows)
    return f"""
  WITH sh AS (
    SELECT DISTINCT doc_id AS id, s FROM (
      SELECT doc_id, UNNEST(
        CASE WHEN len(string_split(lower(text), ' ')) >= 3 THEN
          list_transform(range(0, len(string_split(lower(text), ' ')) - 2),
            i -> array_to_string(list_slice(string_split(lower(text), ' '),
                                            i + 1, i + 3), ' '))
        ELSE [array_to_string(string_split(lower(text), ' '), ' ')] END) AS s
      FROM documents)
  ),
  hs AS (SELECT id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM sh),
  sig AS (
    SELECT id,
    {sig_cols}
    FROM hs GROUP BY id
  ),
  bands AS (
    {bands_sql}
  ),
  sized AS (
    SELECT *, count(*) OVER (PARTITION BY band, bh) AS n FROM bands
  ),
  ok AS (SELECT * FROM sized WHERE n BETWEEN 2 AND {max_bucket})
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM ok x JOIN ok y ON x.band = y.band AND x.bh = y.bh AND x.id < y.id"""


def q_jaccard_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup composition end-to-end: MinHash-LSH candidate
    generation → exact n-gram Jaccard verification of ONLY the candidates
    (never an all-pairs stage). Oracle = the jaccard oracle inner-joined
    with the minhash-pairs oracle, so the composition itself is checked,
    not just the stages."""
    from dbpedia_spotlight_spark.operators.dedup import (
        minhash_candidate_pairs, ngram_jaccard_pairs,
    )
    d = _docs(spark, sf_dir)
    cand = minhash_candidate_pairs(d, n_hashes=16, bands=4)
    return ngram_jaccard_pairs(d, k=3, threshold=0.03, candidates=cand,
                               max_bucket=None)


def sql_jaccard_lsh_verified() -> str:
    return f"""
  SELECT j.a, j.b, j.jaccard
  FROM ({sql_jaccard_pairs()}) j
  JOIN ({sql_minhash_pairs()}) m ON j.a = m.a AND j.b = m.b"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup RESOLUTION end-to-end: connected components over the
    MinHash-LSH candidate-pair graph (min-label propagation, one join +
    one min-agg per round) + canonical-keeper flag (keep = min id of the
    cluster). The oracle replays the pair generation (sql_minhash_pairs)
    AND the fixed-point iterations as CTE chains — pure integer
    arithmetic, exact."""
    from dbpedia_spotlight_spark.operators.components import dedup_keep
    from dbpedia_spotlight_spark.operators.dedup import minhash_candidate_pairs
    d = _docs(spark, sf_dir)
    pairs = minhash_candidate_pairs(d, n_hashes=16, bands=4)
    out = dedup_keep(d.select(F.col("doc_id").alias("id")), pairs,
                     max_iter=6)
    return out.select(F.col("id").alias("doc_id"),
                      F.col("comp").alias("component"), "keep")


def sql_dedup_components(n_iter: int = 6) -> str:
    """Min-label propagation unrolled: labels only decrease, so running
    exactly n_iter rounds equals Spark's early-stopped loop whenever the
    graph converges within n_iter (dup clusters are shallow; pytest
    pins a union-find reference)."""
    # each level references its predecessor twice (self labels + neighbor
    # labels) — AS MATERIALIZED forces one evaluation per level, else
    # DuckDB's CTE inlining re-evaluates the whole chain 2^n_iter times
    iters = []
    for t in range(1, n_iter + 1):
        iters.append(f"""
  l{t} AS MATERIALIZED (
    SELECT l.id, LEAST(l.comp, COALESCE(MIN(nl.comp), l.comp)) AS comp
    FROM l{t - 1} l
    LEFT JOIN e ON e.src = l.id
    LEFT JOIN l{t - 1} nl ON nl.id = e.dst
    GROUP BY l.id, l.comp
  )""")
    return f"""
  WITH mp AS MATERIALIZED ({sql_minhash_pairs()}),
  e AS MATERIALIZED (SELECT a AS src, b AS dst FROM mp
        UNION ALL SELECT b AS src, a AS dst FROM mp),
  l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS comp FROM documents),{",".join(iters)}
  SELECT id AS doc_id, comp AS component, (id = comp) AS keep
  FROM l{n_iter}"""


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition + diversity gates — thresholds chosen
    to split the driver corpus non-vacuously (~42% pass at sf0.01). All
    ratios are single exact double divisions: no rounding, boundary
    behavior identical across engines."""
    from dbpedia_spotlight_spark.operators.textstats import gopher_quality
    return gopher_quality(_docs(spark, sf_dir))


def sql_quality_gopher() -> str:
    return """
  WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           length(replace(text, ' ', '')) AS char_len
    FROM documents
  ),
  tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
  tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
  ts AS (
    SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct
    FROM tc GROUP BY 1
  ),
  bg AS (
    SELECT doc_id, UNNEST(list_transform(
      range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS b
    FROM t WHERE len(toks) >= 2
  ),
  bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
  bs AS (
    SELECT doc_id, max(c) AS top_bg_cnt, CAST(sum(c) AS BIGINT) AS n_bigrams
    FROM bc GROUP BY 1
  ),
  m AS (
    SELECT t.doc_id, ts.n_tokens, ts.n_distinct,
           CAST(ts.n_distinct AS DOUBLE) / ts.n_tokens AS distinct_ratio,
           CAST(t.char_len AS DOUBLE) / ts.n_tokens AS mean_token_len,
           CAST(ts.top_cnt AS DOUBLE) / ts.n_tokens AS top_token_frac,
           COALESCE(CAST(bs.top_bg_cnt AS DOUBLE) / bs.n_bigrams, 0.0)
             AS top_bigram_frac
    FROM t JOIN ts ON ts.doc_id = t.doc_id
    LEFT JOIN bs ON bs.doc_id = t.doc_id
  )
  SELECT *, (n_tokens >= 25
             AND distinct_ratio >= CAST(0.4 AS DOUBLE)
             AND top_token_frac <= CAST(0.15 AS DOUBLE)
             AND top_bigram_frac <= CAST(0.06 AS DOUBLE)) AS passes
  FROM m"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints, exploded to one (doc_id, fingerprint) row
    per selected hash so the driver canonicalizer sees scalars only.
    The Karp-Rabin + min-window selection is mirrored exactly in DuckDB
    (``sql_winnowing``) — polynomial hash per k-gram in HUGEINT, argmin
    per window with leftmost tie-break, consecutive-pick dedup."""
    from dbpedia_spotlight_spark.operators.textstats import winnowing_fingerprints
    return winnowing_fingerprints(_docs(spark, sf_dir)).select(
        "doc_id", F.explode("fingerprints").alias("fingerprint")
    )


def _py_whitespace_class() -> str:
    """RE2 character class matching EXACTLY python's str.split()
    whitespace (str.isspace codepoints) — regex \\s misses NEL/NBSP and
    the Unicode Zs block, which the product's python normalization
    treats as separators (found by the hypothesis property test)."""
    cps = [c for c in range(0x10000) if chr(c).isspace()]
    parts, i = [], 0
    while i < len(cps):
        j = i
        while j + 1 < len(cps) and cps[j + 1] == cps[j] + 1:
            j += 1
        if i == j:
            parts.append(f"\\x{{{cps[i]:04x}}}")
        else:
            parts.append(f"\\x{{{cps[i]:04x}}}-\\x{{{cps[j]:04x}}}")
        i = j + 1
    return "[" + "".join(parts) + "]"


def sql_winnowing(k: int = 5, window: int = 4) -> str:
    """DuckDB mirror of winnowing_fingerprints (B=131, M=2^61-1).

    The python rolling hash equals the direct polynomial hash of each
    k-gram mod M; the window pick index is non-decreasing as the window
    slides, so the 'emit when the pick changes' rule equals 'one row per
    DISTINCT picked index'. The <window-hashes fallback emits min(h).

    Case normalization is PINNED to the strict 1:1 translate defined by
    operators/textstats.py::CASEFOLD_FROM/TO (imported here so the two
    engines can never drift) — Unicode lower() diverges between engines
    on one-to-many casefolds (U+0130)."""
    from dbpedia_spotlight_spark.operators.textstats import (
        CASEFOLD_FROM, CASEFOLD_TO,
    )
    M = (1 << 61) - 1
    ws = _py_whitespace_class()
    h_expr = "CAST(ord(substr(s, u.i, 1)) AS HUGEINT)"
    for j in range(1, k):
        h_expr = f"((({h_expr}) * 131 + ord(substr(s, u.i + {j}, 1))) % {M})"
    return f"""
  WITH norm AS (
    SELECT doc_id,
           trim(regexp_replace(
             translate(text, '{CASEFOLD_FROM}', '{CASEFOLD_TO}'),
             '{ws}+', ' ', 'g')) AS s
    FROM documents
  ),
  hpos AS (
    SELECT doc_id, u.i AS idx, CAST({h_expr} AS BIGINT) AS h
    FROM norm, LATERAL UNNEST(range(1, length(s) - {k} + 2)) AS u(i)
    WHERE length(s) >= {k}
  ),
  wins AS (
    SELECT doc_id, idx AS w,
           min(h) OVER (PARTITION BY doc_id ORDER BY idx
                        ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
             AS mh,
           count(*) OVER (PARTITION BY doc_id) AS nh
    FROM hpos
  ),
  chosen AS (
    SELECT s.doc_id, s.w, min(h2.idx) AS cidx
    FROM wins s
    JOIN hpos h2 ON h2.doc_id = s.doc_id
               AND h2.idx BETWEEN s.w AND s.w + {window - 1}
               AND h2.h = s.mh
    WHERE s.w <= s.nh - {window - 1}
    GROUP BY s.doc_id, s.w
  ),
  sel AS (SELECT DISTINCT doc_id, cidx FROM chosen),
  fps AS (
    SELECT sel.doc_id, h.h AS fingerprint
    FROM sel JOIN hpos h ON h.doc_id = sel.doc_id AND h.idx = sel.cidx
    UNION ALL
    SELECT doc_id, min(h) AS fingerprint FROM hpos
    GROUP BY doc_id HAVING count(*) <= {window - 1}
  )
  SELECT doc_id, fingerprint FROM fps"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbpedia_spotlight_spark.operators.textstats import lang_scores
    return lang_scores(_docs(spark, sf_dir))


def sql_lang_id() -> str:
    from dbpedia_spotlight_spark.operators.textstats import LANG_PROFILES
    score_cols = []
    for lang, words in LANG_PROFILES.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"len(list_filter(string_split(lower(text), ' '), "
            f"t -> t IN ({inlist}))) "
            f"/ greatest(len(string_split(lower(text), ' ')), 1) AS score_{lang}"
        )
    langs = sorted(LANG_PROFILES)
    # argmax with '>' chain mirrors the Spark fold (ties → first in sorted order)
    guess = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    expr_guess = guess
    expr_best = best
    for lang in langs[1:]:
        expr_guess = (f"CASE WHEN score_{lang} > {expr_best} THEN '{lang}' "
                      f"ELSE {expr_guess} END")
        expr_best = f"greatest(score_{lang}, {expr_best})"
    return f"""
  WITH s AS (
    SELECT doc_id, {', '.join(score_cols)} FROM documents
  )
  SELECT doc_id, score_de, score_en, score_es, score_fr,
         {expr_guess} AS lang_guess
  FROM s"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbpedia_spotlight_spark.operators.textstats import quality_scores
    return quality_scores(_docs(spark, sf_dir))


def sql_quality() -> str:
    from dbpedia_spotlight_spark.operators.textstats import LANG_PROFILES
    stops = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    return f"""
  WITH b AS (
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(lower(text), ' ')) AS n_tokens_raw,
           greatest(len(string_split(lower(text), ' ')), 1) AS n_tok,
           len(list_filter(string_split(lower(text), ' '),
               t -> t IN ({stops}))) AS stop_hits,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
           length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers
    FROM documents
  )
  SELECT doc_id, CAST(n_chars AS INTEGER) AS n_chars,
         CAST(n_tokens_raw AS INTEGER) AS n_tokens,
         (n_chars - (n_tok - 1)) / n_tok AS mean_token_len,
         stop_hits / n_tok AS stopword_ratio,
         digits / greatest(n_chars, 1) AS digit_ratio,
         uppers / greatest(n_chars, 1) AS upper_ratio,
         least(n_tok / 100.0, 1.0) * 0.3
           + least(stop_hits / n_tok * 5.0, 1.0) * 0.3
           + (1.0 - least(digits / greatest(n_chars, 1) * 10.0, 1.0)) * 0.2
           + (1.0 - least(uppers / greatest(n_chars, 1) * 10.0, 1.0)) * 0.2
           AS quality
  FROM b"""


def q_vocab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus vocabulary build (the tokenizer-vocab stage of a
    training-data pipeline): term frequency + document frequency per
    lowercased token, restricted to terms with corpus count >= 50."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    return (
        tok.groupBy("tok")
        .agg(F.count("*").alias("tf"),
             F.countDistinct("doc_id").alias("df"))
        .filter(F.col("tf") >= 50)
    )


def sql_vocab_counts() -> str:
    return """
  WITH tok AS (
    SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
    FROM documents
  )
  SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
  FROM tok GROUP BY tok HAVING count(*) >= 50"""


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation composition: keep docs with lang_guess='en' AND
    quality >= 0.6 (the standard pre-training filter stage) — joins the
    language-ID and quality operators and checks the composite against
    the two SQL bodies joined the same way. Thresholds are non-vacuous
    on the testdata (≈24% of docs are guessed 'de'; quality median .61)."""
    from dbpedia_spotlight_spark.operators.textstats import (
        lang_scores, quality_scores,
    )
    d = _docs(spark, sf_dir)
    lang = lang_scores(d).select("doc_id", "lang_guess")
    qual = quality_scores(d).select("doc_id", "quality")
    return (
        lang.join(qual, "doc_id")
        .filter((F.col("lang_guess") == "en") & (F.col("quality") >= 0.6))
    )


def sql_corpus_filter() -> str:
    return f"""
  SELECT l.doc_id, l.lang_guess, q.quality
  FROM ({sql_lang_id()}) l JOIN ({sql_quality()}) q USING (doc_id)
  WHERE l.lang_guess = 'en' AND q.quality >= 0.6"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbpedia_spotlight_spark.operators.textstats import token_counts
    return token_counts(_docs(spark, sf_dir))


def sql_token_count() -> str:
    return """
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
              AS INTEGER) AS bpe_tokens
  FROM documents"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = [0, 1, 2, 3, 4]


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 5 query vectors; cosine rounded
    to 9dp so cross-engine float noise can't flip ranks."""
    from dbpedia_spotlight_spark.operators.similarity import _dot, _norm
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id",
        F.round(_dot(F.col("qv"), F.col("v"))
                / (_norm(F.col("qv")) * _norm(F.col("v"))), 9).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def sql_ann_topk() -> str:
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    return f"""
  WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
  scored AS (
    SELECT q.query_id, e.vec_id,
           round(list_dot_product(q.qv, e.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(e.v, e.v))), 9) AS cosine
    FROM e JOIN q ON e.vec_id <> q.query_id
  )
  SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored)
  WHERE rank <= 10"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-10 — fully oracle-paired: the hyperplanes
    are deterministic pure functions of (dim, seed) in both engines.
    Sign bits: Spark computes projections as a numpy matmul (lsh_bucket)
    while DuckDB folds left-to-right — summation orders differ by ~1e-16
    relative, so a sign bit could only flip for a projection with
    |v·h| ≲ 1e-13, which does not occur in the driver's fixed embedding
    tables (verified value-exact at sf0.001/0.01/0.1); cosine rounds to
    9dp BEFORE ranking so ranks can't flip."""
    from dbpedia_spotlight_spark.operators.similarity import hyperplane_lsh_topk
    return hyperplane_lsh_topk(_emb(spark, sf_dir), _ANN_QUERY_IDS,
                               k=10, n_planes=6, round_digits=9)


def sql_ann_lsh(n_planes: int = 6, k: int = 10, dim: int = 64) -> str:
    from dbpedia_spotlight_spark.operators.similarity import _hyperplanes
    planes = _hyperplanes(dim, n_planes)
    bucket_terms = []
    for p, plane in enumerate(planes):
        arr = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in plane)
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(v, [{arr}]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)")
    bucket_expr = " + ".join(bucket_terms)
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    probe_list = ", ".join(["qb"] + [f"xor(qb, {1 << p})"
                                     for p in range(n_planes)])
    return f"""
  WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  b AS (SELECT vec_id, v, CAST({bucket_expr} AS INTEGER) AS bucket FROM e),
  q AS (SELECT vec_id AS query_id, v AS qv, CAST(bucket AS BIGINT) AS qb
        FROM b WHERE vec_id IN ({ids})),
  probes AS (
    SELECT query_id, qv, UNNEST([{probe_list}]) AS probe FROM q
  ),
  cand AS (
    SELECT DISTINCT p.query_id, p.qv, b.vec_id, b.v
    FROM probes p JOIN b ON b.bucket = p.probe AND b.vec_id <> p.query_id
  ),
  scored AS (
    SELECT query_id, vec_id,
           round(list_dot_product(qv, v)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(v, v))), 9) AS cosine
    FROM cand
  )
  SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored)
  WHERE rank <= {k}"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 over the REAL embeddings table (coarse k-means
    quantizer + multi-probe), fully oracle-paired: the trainer is a pure
    function of the id-ordered hash-Bernoulli sample (partition-layout
    independent), so DuckDB replays the whole path — sample gate, 5
    Lloyd iterations as unrolled CTE chains, full-corpus assignment,
    probe selection, cosine top-k. Cosine rounds to 9dp BEFORE ranking
    so cross-engine libm noise can't flip ranks; argmin/argsort steps
    compare raw doubles whose cluster-distance gaps are ~1e0 vs ~1e-13
    engine noise, and tie-break by cluster index on both sides."""
    from dbpedia_spotlight_spark.operators.similarity import ivf_topk
    return ivf_topk(_emb(spark, sf_dir), _ANN_QUERY_IDS, k=10,
                    n_clusters=16, n_probe=4, round_digits=9)


def sql_ann_ivf(k: int = 10, n_clusters: int = 16, n_probe: int = 4,
                n_iter: int = 5, sample: int = 2048) -> str:
    """DuckDB mirror of q_ann_ivf. Each Lloyd iteration is one CTE chain:
    assign (argmin distance over sample × centroids, tie-break by cluster
    id — np.argmin keeps the first/lowest index), element-wise mean via
    UNNEST + generate_subscripts, empty clusters keep their previous
    centroid (numpy `if m.any()`). The sample CTE replays the
    hash-Bernoulli gate + id-ordered limit (a no-op pass-through whenever
    count ≤ sample, as at every test SF)."""
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    parts = [f"""
  WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
                          FROM embeddings),
  cnt AS MATERIALIZED (SELECT count(*) AS n FROM e),
  samp0 AS (
    SELECT vec_id, v FROM e
    WHERE (SELECT n FROM cnt) <= {sample}
       OR (('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#ivf13'), 1, 15)
           )::BIGINT % 1048576)
          < CAST(floor(LEAST(1.0, CAST('{sample * 1.2!r}' AS DOUBLE)
                             / (SELECT n FROM cnt)) * 1048576) AS BIGINT)
    ORDER BY vec_id LIMIT {sample}
  ),
  samp AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx, v FROM samp0
  ),
  m0 AS (SELECT count(*) AS m FROM samp),
  c0 AS MATERIALIZED (
    SELECT CAST(r.range AS INTEGER) AS c, s.v
    FROM range({n_clusters}) r JOIN samp s
      ON s.idx = (r.range * ((SELECT m FROM m0) - 1))
                 // {max(n_clusters - 1, 1)}
  )"""]
    for t in range(1, n_iter + 1):
        parts.append(f""",
  a{t} AS (
    SELECT idx, v, c FROM (
      SELECT s.idx, s.v, c.c,
             row_number() OVER (
               PARTITION BY s.idx
               ORDER BY list_distance(s.v, c.v) ASC, c.c ASC) AS rn
      FROM samp s CROSS JOIN c{t - 1} c)
    WHERE rn = 1
  ),
  n{t} AS (
    SELECT c, list(mv ORDER BY di) AS v FROM (
      SELECT a.c, u.di, avg(u.val) AS mv
      FROM a{t} a, LATERAL (
        SELECT UNNEST(a.v) AS val, generate_subscripts(a.v, 1) AS di) u
      GROUP BY a.c, u.di)
    GROUP BY c
  ),
  c{t} AS MATERIALIZED (
    SELECT p.c, COALESCE(n.v, p.v) AS v
    FROM c{t - 1} p LEFT JOIN n{t} n ON n.c = p.c
  )""")
    parts.append(f""",
  fa AS (
    SELECT vec_id, v, c FROM (
      SELECT e.vec_id, e.v, c.c,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(c.v, c.v)
                        - 2 * list_dot_product(e.v, c.v) ASC, c.c ASC) AS rn
      FROM e CROSS JOIN c{n_iter} c)
    WHERE rn = 1
  ),
  q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
  probe AS (
    SELECT query_id, qv, c FROM (
      SELECT q.query_id, q.qv, c.c,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_dot_product(c.v, c.v)
                        - 2 * list_dot_product(q.qv, c.v) ASC, c.c ASC) AS rn
      FROM q CROSS JOIN c{n_iter} c)
    WHERE rn <= {n_probe}
  ),
  scored AS (
    SELECT DISTINCT p.query_id, f.vec_id,
           round(list_dot_product(p.qv, f.v)
                 / (sqrt(list_dot_product(p.qv, p.qv))
                    * sqrt(list_dot_product(f.v, f.v))), 9) AS cosine
    FROM probe p JOIN fa f ON f.c = p.c AND f.vec_id <> p.query_id
  )
  SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored)
  WHERE rank <= {k}""")
    return "".join(parts)


def _ivf_fixture_rows() -> list[tuple[int, list[float]]]:
    """Deterministic 200×16 float32 vectors (LCG — no RNG state)."""
    rows = []
    x = 0x1234ABCD5678EF01
    for i in range(200):
        v = []
        for _ in range(16):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            v.append(((x >> 11) / float(1 << 53)) * 2.0 - 1.0)
        import numpy as np
        rows.append((i, [float(np.float32(c)) for c in v]))
    return rows


def q_ann_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k over a fixed fixture small enough that the coarse
    quantizer trains on ALL rows (no Spark-RNG sampling) — the whole
    path (driver k-means, vectorized pandas-UDF assignment, probe join,
    window top-k) becomes bit-deterministic and is checked against a
    golden oracle that replicates the numpy math and the JVM's
    sequential dot-product fold exactly."""
    from dbpedia_spotlight_spark.operators.similarity import ivf_topk
    df = spark.createDataFrame(_ivf_fixture_rows(),
                               "vec_id long, embedding array<float>")
    return ivf_topk(df, [0, 1, 2, 3, 4], k=10, n_clusters=8, n_probe=3)


def sql_ann_ivf_fixed(k: int = 10, n_clusters: int = 8,
                      n_probe: int = 3) -> str:
    import numpy as np

    rows = _ivf_fixture_rows()
    X = np.asarray([[float(c) for c in v] for (_i, v) in rows])
    # ivf_centroids: n <= sample → train on all rows; same integer-stride
    # init as the trainer
    idx = [i * (len(X) - 1) // max(n_clusters - 1, 1)
           for i in range(n_clusters)]
    C = X[idx].copy()
    for _ in range(5):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_clusters):
            m = assign == c
            if m.any():
                C[c] = X[m].mean(axis=0)
    Cn = (C ** 2).sum(axis=1)
    d = Cn[None, :] - 2.0 * (X @ C.T)
    cluster = d.argmin(axis=1)

    def fold_dot(a, b):
        acc = 0.0
        for p, q in zip(a, b):
            acc = acc + p * q
        return acc

    import math
    out = []
    for qid in (0, 1, 2, 3, 4):
        x = X[qid]
        dq = Cn - 2.0 * (C @ x)
        probes = set(int(c) for c in np.argsort(dq)[:n_probe])
        cands = [i for i in range(len(X))
                 if int(cluster[i]) in probes and i != qid]
        scored = []
        for i in cands:
            cos = fold_dot(x, X[i]) / (
                math.sqrt(fold_dot(x, x)) * math.sqrt(fold_dot(X[i], X[i])))
            scored.append((i, cos))
        scored.sort(key=lambda t: (-t[1], t[0]))
        for r, (i, cos) in enumerate(scored[:k], start=1):
            out.append(f"({qid}, {i}, CAST('{cos!r}' AS DOUBLE), {r})")
    values = ",\n    ".join(out)
    return f"""
  SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(vec_id AS BIGINT) AS vec_id,
         cosine, CAST(rank AS INTEGER) AS rank
  FROM (VALUES {values}) AS t(query_id, vec_id, cosine, rank)"""


def q_near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.99) via the LSH
    scale path (multi-table sign-bit buckets + exact verify — NOT the
    O(n²) crossJoin). Duplicate vectors are planted (vec_id<20 offset by
    1e6) so the brute-force oracle comparison is non-vacuous: identical
    vectors collide in every LSH table, so LSH ≡ brute force here (the
    corpus has no other pairs at 0.99)."""
    from dbpedia_spotlight_spark.operators.dedup import embedding_near_dup
    e = _emb(spark, sf_dir)
    planted = e.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    out = embedding_near_dup(e.unionByName(planted), threshold=0.99,
                             method="lsh")
    return out.select("a", "b", F.round("cosine", 9).alias("cosine"))


def sql_near_dup_embeddings() -> str:
    return """
  WITH all_e AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20
  ),
  e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_e)
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))), 9) AS cosine
  FROM e x JOIN e y ON x.vec_id < y.vec_id
  WHERE list_dot_product(x.v, y.v)
        / (sqrt(list_dot_product(x.v, x.v))
           * sqrt(list_dot_product(y.v, y.v))) >= 0.99"""


# ---------------------------------------------------------------------------
# skew-safe per-user top-k over events (operators/skew.py)
# ---------------------------------------------------------------------------


def q_salted_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-user top-3 events by value: the two-phase salted
    window (partial top-k per (key, salt) bucket → final window over
    ≤ n_salt·k survivors). Oracle = the PLAIN unsalted SQL window —
    equality IS the check that salting preserves semantics, externally
    this time (pytest asserted it round 1)."""
    from dbpedia_spotlight_spark.operators.skew import salted_topk
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = salted_topk(
        ev.select("user_id", "event_id",
                  F.col("value").cast("double").alias("value")),
        ["user_id"], [F.desc("value"), F.asc("event_id")], k=3, n_salt=8,
    )
    return out.select("user_id", "event_id", "value", "rank")


def sql_salted_user_topk() -> str:
    return """
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
         CAST(rank AS INTEGER) AS rank
  FROM (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rank
    FROM events)
  WHERE rank <= 3"""


def q_pii_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbpedia_spotlight_spark.operators.pii import pii_counts
    return pii_counts(_docs(spark, sf_dir))


def sql_pii_counts() -> str:
    """Mirror of operators/pii.py::pii_counts — patterns imported from the
    single PII_PATTERNS source of truth (explicit char classes only, so
    Java regex and RE2 agree); DuckDB counts via regexp_extract_all."""
    from dbpedia_spotlight_spark.operators.pii import PII_PATTERNS
    cols = ",\n         ".join(
        f"CAST(length(regexp_extract_all(text, '{pat}')) AS INTEGER)"
        f" AS n_{kind}"
        for kind, pat in PII_PATTERNS
    )
    names = ", ".join(f"n_{kind}" for kind, _ in PII_PATTERNS)
    total = " + ".join(f"n_{kind}" for kind, _ in PII_PATTERNS)
    return f"""
  SELECT doc_id, {names},
         CAST({total} AS INTEGER) AS n_pii
  FROM (SELECT doc_id,
               {cols}
        FROM documents)"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbpedia_spotlight_spark.operators.sampling import hash_split
    return hash_split(
        _docs(spark, sf_dir).select("doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id")


def sql_hash_split() -> str:
    """Mirror of operators/sampling.py::hash_split — the md5 hex-prefix
    gate replays exactly in any engine with md5: 15 hex chars (60 bits)
    parse exactly into a signed BIGINT; thresholds are the same
    ``int(cum_weight * 2^20)`` truncated literals the Spark side uses."""
    buckets = 1 << 20
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    names = sorted(weights)                       # assignment order
    acc, branches = 0.0, []
    for name in names[:-1]:
        acc += weights[name]
        branches.append(
            f"WHEN bucket < {int(acc * buckets)} THEN '{name}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{names[-1]}' END"
    return f"""
  SELECT doc_id, {case} AS split
  FROM (
    SELECT doc_id,
           CAST(concat('0x', substr(
             md5(concat_ws('#', CAST(doc_id AS VARCHAR), 'split')),
             1, 15)) AS BIGINT) % {buckets} AS bucket
    FROM documents)"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Llama/CCNet-style temperature data mixing
    (operators/sampling.py::temperature_weights/temperature_resample):
    per-language sampling weights at alpha=0.5 (upweights low-resource
    langs — `lang` is the naturally skewed domain column) and the
    deterministic md5-gated resample to ~60% of the corpus, reported as
    (lang, n_docs, weight, kept). The weight crosses libm (pow), so the
    9 dp contract applies; `kept` is integer-exact because both engines
    gate on the same floor(round(rate,9)·2^20) threshold."""
    from dbpedia_spotlight_spark.operators.sampling import (
        temperature_resample, temperature_weights)
    docs = _docs(spark, sf_dir)
    w = temperature_weights(docs, "lang", alpha=0.5)
    kept = (temperature_resample(docs, "lang", "doc_id",
                                 alpha=0.5, target_frac=0.6)
            .groupBy("lang").agg(F.count("*").alias("kept")))
    return (w.join(kept, "lang", "left")
            .select("lang", "n_docs", F.round("weight", 9).alias("weight"),
                    F.coalesce("kept", F.lit(0)).alias("kept"))
            .orderBy("lang"))


def sql_temperature_mix() -> str:
    """Relational replay: counts → pow/sum normalizer → per-domain
    threshold floor(round(min(1, 0.6·N·w/n), 9)·2^20) → md5 gate (same
    15-hex-char prefix parse as sql_hash_split; floor NOT cast because
    DuckDB casts round where Spark casts truncate)."""
    buckets = 1 << 20
    return f"""
  WITH c AS (
    SELECT lang, COUNT(*) AS n_docs, POW(COUNT(*), 0.5) AS p
    FROM documents GROUP BY lang),
  t AS (SELECT SUM(p) AS s, SUM(n_docs) AS n FROM c),
  w AS (
    SELECT c.lang, c.n_docs, c.p / t.s AS weight,
           FLOOR(ROUND(LEAST(1.0, 0.6 * t.n * (c.p / t.s) / c.n_docs),
                       9) * {buckets}) AS thresh
    FROM c, t),
  kept AS (
    SELECT d.lang, COUNT(*) AS kept
    FROM documents d JOIN w ON d.lang = w.lang
    WHERE CAST(concat('0x', substr(
            md5(concat_ws('#', CAST(d.doc_id AS VARCHAR), 'mix')),
            1, 15)) AS BIGINT) % {buckets} < w.thresh
    GROUP BY d.lang)
  SELECT w.lang AS lang, w.n_docs AS n_docs,
         ROUND(w.weight, 9) AS weight,
         COALESCE(kept.kept, 0) AS kept
  FROM w LEFT JOIN kept ON w.lang = kept.lang
  ORDER BY w.lang"""


_DUP_K = 13  # words per span (CCNet/Lee-et-al working range)


def _sql_dup_grams(k: int) -> str:
    """Shared oracle CTE prefix: tokenize → k-gram stream → duplicated
    grams (≥2 distinct docs) → per-occurrence span list. String-level
    grouping (no hashes) — the independent replay of the Spark side's
    xxhash64 path, so a hash-collision bug would surface as a mismatch."""
    return f"""
  WITH w AS (
    SELECT doc_id, CASE WHEN trim(text)='' THEN []::varchar[]
           ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS w
    FROM documents
  ), grams AS (
    SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+{k}-1], ' ') AS g
    FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-{k}+1)) AS i)
    WHERE len(w) >= {k}
  ), dup AS (
    SELECT g, count(DISTINCT doc_id) AS n_dup
    FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
  ), spans AS (
    SELECT grams.doc_id, grams.pos, grams.g, dup.n_dup
    FROM grams JOIN dup USING (g)
  )"""


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN mass per document
    (operators/spandedup.py::duplicate_span_stats — the ExactSubstr
    rule of Lee et al. 2022 at word-13-gram granularity): for every
    doc, how many 13-word spans recur verbatim in other docs and how
    many word positions that duplication covers. All-integer output
    (hash-stable); dup_positions/n_words is the curation-gate ratio.
    Non-vacuous on the testdata (43/500 docs carry duplicated mass at
    sf0.001). Spark side matches on xxhash64(gram); the oracle groups
    the gram STRINGS — agreement also certifies the hash path."""
    from dbpedia_spotlight_spark.operators.spandedup import (
        duplicate_span_stats)
    return duplicate_span_stats(_docs(spark, sf_dir), k=_DUP_K)


def sql_dup_span_stats() -> str:
    return _sql_dup_grams(_DUP_K) + f""",
  cov AS (
    SELECT DISTINCT doc_id, pos + j AS p
    FROM spans, LATERAL (SELECT unnest(generate_series(0, {_DUP_K}-1)) AS j)
  ),
  pg AS (SELECT doc_id, count(*) AS n_dup_grams FROM spans GROUP BY doc_id),
  pp AS (SELECT doc_id, count(*) AS dup_positions FROM cov GROUP BY doc_id)
  SELECT w.doc_id AS doc_id, CAST(len(w.w) AS INTEGER) AS n_words,
         COALESCE(pg.n_dup_grams, 0) AS n_dup_grams,
         COALESCE(pp.dup_positions, 0) AS dup_positions
  FROM w LEFT JOIN pg USING (doc_id) LEFT JOIN pp USING (doc_id)"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-occurrence duplicated-span listing with the gram TEXT carried
    (operators/spandedup.py::duplicate_spans, carry_gram=True) — the
    exact-parity check of the listing the masking/stats ops consume:
    (doc_id, pos, gram, n_dup) for every occurrence of every 13-gram
    appearing in ≥2 distinct docs."""
    from dbpedia_spotlight_spark.operators.spandedup import duplicate_spans
    return (duplicate_spans(_docs(spark, sf_dir), k=_DUP_K,
                            carry_gram=True)
            .select("doc_id", "pos", "gram", "n_dup"))


def sql_dup_spans() -> str:
    return _sql_dup_grams(_DUP_K) + """
  SELECT doc_id, pos, g AS gram, n_dup FROM spans"""


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/sampling.py::chunk_documents):
    window=40 words, stride=30 (overlapping, HF overflowing-tokens
    stop rule), the LM context-split upstream of pack_sequences."""
    from dbpedia_spotlight_spark.operators.sampling import chunk_documents
    return chunk_documents(_docs(spark, sf_dir), window=40, stride=30)


def sql_chunk_windows() -> str:
    return """
  WITH w AS (
    SELECT doc_id, CASE WHEN trim(text)='' THEN []::varchar[]
           ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
    FROM documents),
  starts AS (
    SELECT doc_id, w, s
    FROM w, LATERAL (SELECT unnest(generate_series(0, len(w)-1, 30)) AS s)
    WHERE len(w) >= 1 AND (s = 0 OR s - 30 + 40 < len(w)))
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
              AS INTEGER) AS chunk_idx,
         s AS start,
         least(40, len(w) - s) AS n_tokens,
         array_to_string(w[s+1 : s+40], ' ') AS chunk_text
  FROM starts"""


_BM25_QUERY = ["spark", "query", "join"]


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/bm25.py): score every document
    matching >=1 of the 3 query terms, Lucene-variant IDF, k1=1.2
    b=0.75. All matching docs (no top-k cut — the row set is then
    layout-independent; scores cross libm ln, so the 9 dp contract
    applies, and a float-tied LIMIT boundary can't flip rows)."""
    from dbpedia_spotlight_spark.operators.bm25 import bm25_scores
    return (bm25_scores(_docs(spark, sf_dir), _BM25_QUERY)
            .select("doc_id", F.round("score", 9).alias("score"),
                    "n_hit"))


def sql_bm25_rank() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(_BM25_QUERY))
    return f"""
  WITH w AS (
    SELECT doc_id, CASE WHEN trim(text)='' THEN []::varchar[]
           ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS w
    FROM documents),
  dl AS (SELECT doc_id, len(w) AS dl FROM w),
  st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
  post AS (SELECT doc_id, unnest(w) AS term FROM w),
  tfq AS (
    SELECT term, doc_id, count(*) AS tf FROM post
    WHERE term IN ({terms}) GROUP BY term, doc_id),
  dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfq GROUP BY term)
  SELECT tfq.doc_id AS doc_id,
         round(sum(ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                   * tfq.tf * (1.2 + 1.0)
                   / (tfq.tf + 1.2 * (1.0 - 0.75
                                      + 0.75 * dl.dl / st.avgdl))), 9)
           AS score,
         count(*) AS n_hit
  FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id), st
  GROUP BY tfq.doc_id"""


_DSIR_BUCKETS = 512
_DSIR_ALPHA = 1.0
_DSIR_K = 100
_DSIR_SALT = "dsir"


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py — Xie et al. 2023):
    importance-resample k=100 documents toward the lang='en' reference
    slice using hashed unigram+bigram bucket models (B=512, add-1
    smoothing) and deterministic Gumbel top-k. The oracle replays
    hashing → smoothed log-ratio → per-doc weight → Gumbel key
    end-to-end; weights/keys cross libm ln so the 9 dp contract
    applies, and the top-k ORDER key is the rounded key with doc_id
    tiebreak so a float-tied LIMIT boundary can't flip rows."""
    from dbpedia_spotlight_spark.operators.dsir import dsir_select
    docs = _docs(spark, sf_dir)
    return dsir_select(docs, None, _DSIR_K, n_buckets=_DSIR_BUCKETS,
                       alpha=_DSIR_ALPHA, salt=_DSIR_SALT,
                       target_cond=F.col("lang") == "en")


def sql_dsir_select() -> str:
    b, a, k, salt = _DSIR_BUCKETS, _DSIR_ALPHA, _DSIR_K, _DSIR_SALT
    return f"""
  WITH w AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::varchar[]
                ELSE regexp_split_to_array(lower(trim(text)), '\\s+')
           END AS w,
           lang
    FROM documents),
  grams AS (
    SELECT doc_id, lang, t.g FROM w, UNNEST(w.w) AS t(g)
    UNION ALL
    SELECT doc_id, lang, t.g
    FROM w, UNNEST(list_transform(range(1, len(w.w)),
                                  i -> w.w[i] || ' ' || w.w[i+1])) AS t(g)),
  b AS (
    SELECT doc_id, lang,
           CAST(concat('0x', substr(md5(concat_ws('#', g, '{salt}')),
                                    1, 15)) AS BIGINT) % {b} AS bucket
    FROM grams),
  tgt AS (SELECT bucket, count(*) AS n FROM b WHERE lang = 'en'
          GROUP BY bucket),
  raw AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
  tt AS (SELECT sum(n) AS t FROM tgt),
  rt AS (SELECT sum(n) AS t FROM raw),
  ratio AS (
    SELECT COALESCE(tgt.bucket, raw.bucket) AS bucket,
           ln((COALESCE(tgt.n, 0) + {a}) / (tt.t + {a * b}))
           - ln((COALESCE(raw.n, 0) + {a}) / (rt.t + {a * b})) AS lr
    FROM tgt FULL JOIN raw ON tgt.bucket = raw.bucket, tt, rt),
  lw AS (
    SELECT w.doc_id, COALESCE(sum(r.lr), 0.0) AS logw
    FROM w LEFT JOIN b ON w.doc_id = b.doc_id
           LEFT JOIN ratio r ON b.bucket = r.bucket
    GROUP BY w.doc_id),
  keyed AS (
    SELECT doc_id, logw,
           logw - ln(-ln((CAST(concat('0x', substr(md5(concat_ws('#',
                      CAST(doc_id AS VARCHAR), '{salt}-g')), 1, 15))
                      AS BIGINT) % 1048576 + 0.5) / 1048576.0)) AS key
    FROM lw)
  SELECT doc_id, round(logw, 9) AS logw, round(key, 9) AS gumbel_key
  FROM keyed ORDER BY round(key, 9) DESC, doc_id LIMIT {k}"""


_LOGREG_ITERS = 20
_LOGREG_LR = 0.5


def q_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate (operators/classifier.py — the CCNet /
    DCLM pattern): logistic regression over the 6 quality_scores
    features, 20 full-batch GD steps each ONE map-side-combinable
    aggregate. The weak-supervision label DISTILLS the old hand rule
    (quality >= 0.6 AND lang == 'en' — the rotated corpus_filter gate)
    into a smooth learned score: the quality component is learnable
    from the features (the realistic CCNet shape), the lang component
    is label noise the fit must tolerate. Output (doc_id, p, keep) with
    p rounded to the repo-wide 9 dp engine contract (GD crosses libm
    exp and double-reduce order, same as pagerank/PPR)."""
    from dbpedia_spotlight_spark.operators.classifier import (
        quality_classifier)
    docs = _docs(spark, sf_dir)
    label = (F.col("quality") >= 0.6) & (F.col("lang") == "en")
    # keep derives from the ROUNDED p on both engines: a doc sitting
    # within one ulp of 0.5 must not flip the boolean across libm /
    # reduce-order noise the 9 dp rounding on p itself absorbs
    return (quality_classifier(docs, label,
                               iters=_LOGREG_ITERS, lr=_LOGREG_LR)
            .select("doc_id", F.round("p", 9).alias("p"))
            .withColumn("keep", F.col("p") >= 0.5))


def sql_quality_logreg() -> str:
    """Unrolled-CTE replay of the whole fit: feature CTE = sql_quality,
    standardization via the explicit E[x²]−E[x]² form (same zero-
    variance guard constant), then 20 one-row weight CTEs — each joins
    the previous weights to the standardized frame and reduces the 7
    gradient averages, exactly the arithmetic fit_logreg runs."""
    cols = ["n_chars", "n_tokens", "mean_token_len",
            "stopword_ratio", "digit_ratio", "upper_ratio"]
    n = len(cols)
    ms = ", ".join(
        f"avg({c}) AS m{j}, avg(CAST({c} AS DOUBLE)*{c}) AS s{j}"
        for j, c in enumerate(cols))
    xs = ", ".join(
        f"(lbl.{c} - st.m{j}) / sqrt(greatest(st.s{j} - st.m{j}*st.m{j},"
        f" 1e-12)) AS x{j}" for j, c in enumerate(cols))
    zero = ", ".join(f"0.0 AS w{j}" for j in range(n))
    its = []
    for i in range(1, _LOGREG_ITERS + 1):
        zexpr = " + ".join(f"it.w{j}*z.x{j}" for j in range(n))
        p = f"1.0/(1.0 + exp(-({zexpr} + it.b)))"
        gs = ", ".join(f"avg(z.x{j}*({p} - z.y)) AS g{j}"
                       for j in range(n))
        ws = ", ".join(f"it.w{j} - {_LOGREG_LR}*g.g{j} AS w{j}"
                       for j in range(n))
        # MATERIALIZED is load-bearing: each it{i} references it{i-1}
        # twice, and DuckDB inlines plain CTEs — 20 doubling levels
        # would expand the tree exponentially
        its.append(f"""it{i} AS MATERIALIZED (
    SELECT {ws}, it.b - {_LOGREG_LR}*g.gb AS b
    FROM it{i - 1} it, (
      SELECT {gs}, avg({p} - z.y) AS gb FROM z, it{i - 1} it) g)""")
    zfin = " + ".join(f"it.w{j}*z.x{j}" for j in range(n))
    pfin = f"1.0/(1.0 + exp(-({zfin} + it.b)))"
    return f"""
  WITH f AS ({sql_quality()}),
  lbl AS (
    SELECT f.*, CASE WHEN f.quality >= 0.6 AND d.lang = 'en'
                THEN 1.0 ELSE 0.0 END AS y
    FROM f JOIN documents d USING (doc_id)),
  st AS (SELECT {ms} FROM lbl),
  z AS MATERIALIZED (SELECT lbl.doc_id, lbl.y, {xs} FROM lbl, st),
  it0 AS (SELECT {zero}, 0.0 AS b),
  {','.join(its)}
  SELECT z.doc_id, round({pfin}, 9) AS p,
         round({pfin}, 9) >= 0.5 AS keep
  FROM z, it{_LOGREG_ITERS} it"""


def q_host_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level skew report (north_star: mega-hosts → salted
    repartitioning). `documents.source` is flat, so a deterministic
    Common-Crawl-shaped URL is derived per doc — 60% of docs on one
    mega-host, the rest spread over 97 small hosts — and the report's
    host extraction, mean-based skew flag and integer salt-bucket
    recommendation replay exactly in SQL."""
    from dbpedia_spotlight_spark.operators.webstats import host_skew_report
    d = _docs(spark, sf_dir)
    docs = d.select(
        "text",
        F.when(
            F.col("doc_id") % 10 < 6,
            F.concat(F.lit("https://mega.example.org/p/"),
                     F.col("doc_id").cast("string")),
        ).otherwise(
            F.concat(F.lit("https://site"),
                     (F.col("doc_id") % 97).cast("string"),
                     F.lit(".org/p/"), F.col("doc_id").cast("string")),
        ).alias("url"),
    )
    return host_skew_report(docs, url_col="url", text_col="text",
                            skew_factor=5.0, target_docs_per_task=100)


def sql_host_skew() -> str:
    """Mirror of operators/webstats.py::host_skew_report. AVG over exact
    BIGINT counts → identical IEEE double on both engines; salt bucket
    math is pure integer (// vs div); SUM(length) cast from DuckDB's
    HUGEINT back to BIGINT."""
    return """
  WITH urls AS (
    SELECT text,
           CASE WHEN doc_id % 10 < 6
                THEN 'https://mega.example.org/p/' || doc_id
                ELSE 'https://site' || (doc_id % 97) || '.org/p/' || doc_id
           END AS url
    FROM documents),
  stats AS (
    SELECT regexp_extract(url, '^(?:[a-z][a-z0-9+.-]*://)?([^/]+)', 1)
             AS host,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM urls GROUP BY 1),
  m AS (SELECT AVG(n_docs) AS mean_docs FROM stats)
  SELECT host, n_docs, n_chars,
         n_docs > 5.0 * mean_docs AS skewed,
         CAST(GREATEST((n_docs + 99) // 100, 1) AS BIGINT) AS salt_buckets
  FROM stats, m"""


def q_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl dedup (input_hint: (url, warc_ts) captures — keep the
    newest per url). `events` stands in for a capture log: a
    deterministic url maps ~mod-500 event ids onto the same page, ts is
    the capture time, event_id the unique tiebreaker. The operator's
    max-struct plan (one map-side-combinable shuffle) must equal the
    window-row_number formulation the oracle uses."""
    from dbpedia_spotlight_spark.operators.webstats import latest_capture
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    caps = ev.select(
        F.concat(F.lit("https://site"),
                 (F.col("event_id") % 500).cast("string"),
                 F.lit(".org/")).alias("url"),
        F.col("ts").alias("warc_ts"),
        "event_id", "event_type", "value")
    kept = latest_capture(caps, "url", "warc_ts", "event_id")
    return kept.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
         .alias("warc_ts_s"),
        "event_id", "event_type", "value")


def sql_latest_capture() -> str:
    """Window-row_number mirror of operators/webstats.py::latest_capture
    — the all-captures-per-key sort Spark must NOT use, but which any
    SQL engine replays exactly; (warc_ts, event_id) DESC is a total
    order so the kept row is unique."""
    return """
  SELECT url,
         strftime(warc_ts, '%Y-%m-%d %H:%M:%S.%f') AS warc_ts_s,
         event_id, event_type, value
  FROM (
    SELECT *, row_number() OVER (
             PARTITION BY url ORDER BY warc_ts DESC, event_id DESC) AS rn
    FROM (
      SELECT 'https://site' || (event_id % 500) || '.org/' AS url,
             ts AS warc_ts, event_id, event_type, value
      FROM events))
  WHERE rn = 1"""


_MESSY_URL_SQL = """
  CASE doc_id % 4
    WHEN 0 THEN 'HTTP://Site' || (doc_id % 13) || '.ORG:80/p/' || doc_id
                || '?utm_source=x&q=' || doc_id || '#top'
    WHEN 1 THEN 'https://site' || (doc_id % 13) || '.org/p/' || doc_id
    WHEN 2 THEN 'HTTPS://CDN' || (doc_id % 7) || '.Example.net:443'
    ELSE 'site' || (doc_id % 13) || '.org/a?gclid=g' || doc_id
         || '&keep=1'
  END"""


def _messy_url_col() -> Column:
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return (
        F.when(d % 4 == 0,
               F.concat(F.lit("HTTP://Site"), s(d % 13),
                        F.lit(".ORG:80/p/"), s(d),
                        F.lit("?utm_source=x&q="), s(d), F.lit("#top")))
        .when(d % 4 == 1,
              F.concat(F.lit("https://site"), s(d % 13),
                       F.lit(".org/p/"), s(d)))
        .when(d % 4 == 2,
              F.concat(F.lit("HTTPS://CDN"), s(d % 7),
                       F.lit(".Example.net:443")))
        .otherwise(
            F.concat(F.lit("site"), s(d % 13), F.lit(".org/a?gclid=g"),
                     s(d), F.lit("&keep=1")))
    )


def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over a deterministically-messied crawl url
    per document (mixed-case authority, default ports, tracking params,
    fragments, bare authorities — one of each class by doc_id mod 4)."""
    from dbpedia_spotlight_spark.operators.urlnorm import canonical_url_col
    return (
        _docs(spark, sf_dir)
        .select("doc_id",
                canonical_url_col(_messy_url_col()).alias("canon_url"))
    )


def sql_canonical_urls() -> str:
    from dbpedia_spotlight_spark.operators.urlnorm import sql_canonical_url
    return f"""
  SELECT doc_id, {sql_canonical_url(f'({_MESSY_URL_SQL})')} AS canon_url
  FROM documents"""


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-host mirror detection — 20-char text prefixes induce
    deterministic cross-document collisions; the host comes from the
    messy-url derivation, so mirrors span hosts whenever colliding
    doc_ids differ mod 13/7."""
    from dbpedia_spotlight_spark.operators.urlnorm import canonical_url_col
    from dbpedia_spotlight_spark.operators.webstats import mirror_hosts
    d = _docs(spark, sf_dir).select(
        canonical_url_col(_messy_url_col()).alias("url"),
        F.substring("text", 1, 20).alias("text"))
    return mirror_hosts(d, url_col="url", text_col="text")


def sql_mirror_hosts() -> str:
    from dbpedia_spotlight_spark.operators.urlnorm import sql_canonical_url
    canon = sql_canonical_url(f"({_MESSY_URL_SQL})")
    return f"""
  SELECT text_hash, n_hosts, n_copies, first_host
  FROM (
    SELECT text_hash,
           COUNT(DISTINCT host) AS n_hosts,
           COUNT(*) AS n_copies,
           MIN(host) AS first_host
    FROM (
      SELECT md5(substr(text, 1, 20)) AS text_hash,
             regexp_extract({canon},
                            '^(?:[a-z][a-z0-9+.-]*://)?([^/]+)', 1)
               AS host
      FROM documents)
    GROUP BY text_hash)
  WHERE n_hosts >= 2"""


def _boiler_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-line pages: real document text interleaved
    with known boilerplate (nav bar, cookie notice, js fallback,
    copyright footer, too-short teaser) — documents.text itself is
    single-line, so the page structure is synthesized in the query."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Home | About | Contact | Subscribe"),
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("This site uses cookie tracking."))
             .otherwise(F.substring("text", 1, 100)),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("Please enable javascript to continue."))
             .otherwise(F.lit("Copyright 2024 example.org - "
                              "all rights reserved.")),
            F.lit("Read more"),
        ).alias("text"),
    )


def q_clean_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line filter (operators/boilerplate.py) over
    synthesized multi-line pages. The predicate (min-words, phrase
    blocklist, brace, symbol-fraction) replays exactly as a DuckDB
    list_filter lambda; the op itself is a zero-shuffle projection."""
    from dbpedia_spotlight_spark.operators.boilerplate import (
        clean_boilerplate)
    return clean_boilerplate(_boiler_pages(spark, sf_dir)).select(
        "doc_id", "clean_text", "n_lines_kept", "n_lines_dropped")


def sql_clean_boilerplate() -> str:
    """Mirror of operators/boilerplate.py::clean_boilerplate. Parity
    notes: Spark regexp_replace is global by default → DuckDB needs the
    'g' flag; Spark split(t,' +') on '' yields [''] as does DuckDB
    string_split_regex → empty lines fail min-words on both engines;
    0.3*length is the same IEEE double both sides (ASCII lengths)."""
    pred = (
        "len(string_split_regex(trim(x), ' +')) >= 5"
        " AND NOT contains(lower(trim(x)), 'javascript')"
        " AND NOT contains(lower(trim(x)), 'lorem ipsum')"
        " AND NOT contains(lower(trim(x)), 'cookie')"
        " AND NOT contains(lower(trim(x)), 'privacy policy')"
        " AND NOT contains(lower(trim(x)), 'terms of use')"
        " AND NOT contains(lower(trim(x)), 'all rights reserved')"
        " AND NOT contains(trim(x), '{')"
        " AND NOT contains(trim(x), '|')"
        " AND length(trim(x)) - length(regexp_replace(trim(x),"
        " '[^A-Za-z0-9 ]', '', 'g')) <= length(trim(x)) * 0.3"
    )
    return f"""
  WITH pages AS (
    SELECT doc_id,
           'Home | About | Contact | Subscribe' || chr(10) ||
           text || chr(10) ||
           CASE WHEN doc_id % 3 = 0 THEN 'This site uses cookie tracking.'
                ELSE substr(text, 1, 100) END || chr(10) ||
           CASE WHEN doc_id % 5 = 0
                THEN 'Please enable javascript to continue.'
                ELSE 'Copyright 2024 example.org - all rights reserved.'
           END || chr(10) || 'Read more' AS text
    FROM documents),
  split AS (
    SELECT doc_id, string_split(text, chr(10)) AS ls FROM pages),
  kept AS (
    SELECT doc_id, ls, list_filter(ls, x -> {pred}) AS ks FROM split)
  SELECT doc_id,
         array_to_string(ks, chr(10)) AS clean_text,
         CAST(len(ks) AS BIGINT) AS n_lines_kept,
         CAST(len(ls) - len(ks) AS BIGINT) AS n_lines_dropped
  FROM kept"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (operators/boilerplate.py::line_dedup,
    kept-first) over the same synthesized multi-line pages as
    q_clean_boilerplate — the planted nav bar / footers / 'Read more'
    teaser repeat across EVERY page, so all but the min-doc_id copy of
    each must drop. Texts never shuffle: only (md5, id, idx) triples do,
    and the rebuild joins a per-doc integer drop-list back onto the
    pages."""
    from dbpedia_spotlight_spark.operators.boilerplate import line_dedup
    return line_dedup(_boiler_pages(spark, sf_dir)).select(
        "doc_id", "clean_text", "n_lines_dropped")


def sql_line_dedup() -> str:
    """Mirror of operators/boilerplate.py::line_dedup (min_words=2).
    Winner = row_number()=1 ordered by (doc_id, idx) per LINE (the Spark
    side groups on md5(line) only to shrink the shuffle payload; the
    grouping key is semantically the line). Parallel unnest zips the
    line array with its 0-based index; blank lines count 0 words (the
    Spark ``_line_word_count`` pin); string_agg(ORDER BY idx) rebuilds,
    with '' for a page whose every line dropped."""
    return """
  WITH pages AS (
    SELECT doc_id,
           'Home | About | Contact | Subscribe' || chr(10) ||
           text || chr(10) ||
           CASE WHEN doc_id % 3 = 0 THEN 'This site uses cookie tracking.'
                ELSE substr(text, 1, 100) END || chr(10) ||
           CASE WHEN doc_id % 5 = 0
                THEN 'Please enable javascript to continue.'
                ELSE 'Copyright 2024 example.org - all rights reserved.'
           END || chr(10) || 'Read more' AS text
    FROM documents),
  arrs AS (
    SELECT doc_id, string_split(text, chr(10)) AS ls FROM pages),
  lines AS (
    SELECT doc_id,
           unnest(generate_series(0, len(ls) - 1)) AS idx,
           unnest(ls) AS line
    FROM arrs),
  elig AS (
    SELECT doc_id, idx, line FROM lines
    WHERE CASE WHEN trim(line) = '' THEN 0
               ELSE len(string_split_regex(trim(line), ' +')) END >= 2),
  ranked AS (
    SELECT doc_id, idx,
           row_number() OVER (PARTITION BY line
                              ORDER BY doc_id, idx) AS rn
    FROM elig),
  drops AS (SELECT doc_id, idx FROM ranked WHERE rn > 1),
  kept AS (
    SELECT l.doc_id,
           string_agg(l.line, chr(10) ORDER BY l.idx) AS clean_text,
           COUNT(*) AS n_kept
    FROM lines l LEFT JOIN drops d
      ON l.doc_id = d.doc_id AND l.idx = d.idx
    WHERE d.doc_id IS NULL
    GROUP BY l.doc_id),
  counts AS (SELECT doc_id, COUNT(*) AS n FROM lines GROUP BY doc_id)
  SELECT c.doc_id,
         COALESCE(k.clean_text, '') AS clean_text,
         CAST(c.n - COALESCE(k.n_kept, 0) AS BIGINT) AS n_lines_dropped
  FROM counts c LEFT JOIN kept k USING (doc_id)"""


_WARC_FIXTURE = [
    # (url, iso_ts, status, html_body) — response records
    ("http://w.org/1", "2024-02-01 08:00:00", 200,
     "<p>alpha beta gamma</p>"),
    ("http://w.org/2", "2024-02-01 09:30:00", 404,
     "<ul><li>one</li><li>two</li></ul>"),
    ("http://w.org/3", "2024-02-02 10:15:00", 200,
     "plain body, no markup"),
]


def q_warc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source (sources/warc.py): a deterministic two-shard WARC
    (one plain, one gzipped; plus a request record the type filter must
    drop) is written fresh, read back via binaryFile + mapInPandas, and
    reduced to (url, warc_ts, http_status, extracted_text)."""
    import gzip
    import os
    import tempfile
    from datetime import datetime
    from dbpedia_spotlight_spark.pipeline import extract_text
    from dbpedia_spotlight_spark.sources.warc import build_warc, read_warc

    d = os.path.join(tempfile.gettempdir(), "spark_graft_warc_fixture")
    os.makedirs(d, exist_ok=True)
    recs = [
        {"warc_type": "response", "url": u,
         "warc_ts": datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"),
         "http_status": st, "body": body.encode()}
        for (u, ts, st, body) in _WARC_FIXTURE
    ]
    req = {"warc_type": "request", "url": "http://w.org/1",
           "warc_ts": None, "body": b"GET /1 HTTP/1.1"}
    # ALWAYS overwrite (tiny files — see _tsv fixture note)
    with open(os.path.join(d, "s0.warc"), "wb") as f:
        f.write(build_warc([req] + recs[:2]))
    with open(os.path.join(d, "s1.warc.gz"), "wb") as f:
        f.write(gzip.compress(build_warc(recs[2:])))
    df = read_warc(spark, d)
    return (
        extract_text(df.select("url", "warc_ts", "http_status", "html"))
        .select("url", "warc_ts", "http_status", "extracted_text")
    )


def sql_warc_source() -> str:
    """Expected rows straight from the fixture spec (paper-designed, no
    WARC writer/parser in the loop beyond strip_html's frozen spec)."""
    from dbpedia_spotlight_spark.functions.extraction import strip_html
    rows = ",\n    ".join(
        "('{}', TIMESTAMP '{}', {}, '{}')".format(
            u, ts, st, strip_html(body.encode()).replace("'", "''"))
        for (u, ts, st, body) in _WARC_FIXTURE
    )
    return f"""
  SELECT url, warc_ts, http_status, extracted_text
  FROM (VALUES {rows}) AS t(url, warc_ts, http_status, extracted_text)"""


def q_anchor_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text lexicon (operators/anchors.py): deterministic HTML is
    built from each document's words (every 5th word becomes an
    <a href> whose target derives from the word), the REAL
    HTMLParser-based mapInPandas extractor pulls the anchors back out,
    and the pairCounts-shaped aggregation runs. The oracle never parses
    HTML — it derives the same lexicon straight from word positions, so
    parser, plumbing and aggregation are all under independent test."""
    from dbpedia_spotlight_spark.operators.anchors import (
        anchor_lexicon, extract_anchors)
    d = _docs(spark, sf_dir)
    words = F.split("text", " ")
    frag = F.transform(
        words,
        lambda w, i: F.when(
            (i % 5 == 0) & (F.length(w) > 0),
            F.concat(F.lit('<a href="https://t'),
                     (F.length(w) % 7).cast("string"),
                     F.lit(".example/"), w, F.lit('">'), w,
                     F.lit("</a>")),
        ).otherwise(w),
    )
    pages = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(
            F.concat(F.lit("<html><body><p>"), F.array_join(frag, " "),
                     F.lit("</p></body></html>")),
            "utf-8",
        ).alias("html"),
    )
    return anchor_lexicon(extract_anchors(pages))


def sql_anchor_lexicon() -> str:
    """Mirror derives the lexicon from word positions directly (no HTML
    round-trip): Spark transform() index is 0-based, DuckDB
    generate_subscripts 1-based → (i-1)%5. Words are lowercase ASCII so
    the op's lower() normalization and url canonicalization are
    no-ops; empty words (double spaces) are excluded on both sides."""
    return """
  WITH w AS (
    SELECT unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents)
  SELECT w AS sf,
         'https://t' || (length(w) % 7) || '.example/' || w AS uri,
         COUNT(*) AS count
  FROM w
  WHERE (i - 1) % 5 = 0 AND w <> ''
  GROUP BY 1, 2"""


def _snapshot_triples(spark: SparkSession, sf_dir: str,
                      new: bool) -> DataFrame:
    """Deterministic crawl-snapshot triple sets derived from documents:
    the OLD snapshot covers doc_id % 7 != 0, the NEW recrawl covers
    doc_id % 2 == 0 (overlapping but neither containing the other), each
    doc carrying 1-3 link triples. In the recrawl, docs with
    doc_id % 5 == 0 rotate their objects by one — a changed page — so
    the delta exercises all three cases: re-annotated-unchanged (no
    rows), changed (removed+added), newly-crawled (added only)."""
    d = _docs(spark, sf_dir).filter(
        (F.col("doc_id") % 2 == 0) if new else (F.col("doc_id") % 7 != 0))
    d = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("k"))
    s = lambda c: c.cast("string")  # noqa: E731
    url = F.concat(F.lit("https://host"), s(F.col("doc_id") % 13),
                   F.lit(".example/d/"), s(F.col("doc_id")))
    shift = F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0) \
        if new else F.lit(0)
    return d.select(
        F.concat(url, F.lit("#char="), s(F.col("k") * 10), F.lit(","),
                 s(F.col("k") * 10 + 5)).alias("subj"),
        F.lit("itsrdf:taIdentRef").alias("pred"),
        F.concat(F.lit("dbr:Ent"),
                 s((F.col("doc_id") * 7 + F.col("k") + shift) % 50))
        .alias("obj"),
    )


def q_triple_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance (triples.py::triple_delta): change log
    between two crawl-snapshot triple sets under per-url replace
    semantics — urls the recrawl did not touch produce no rows."""
    from dbpedia_spotlight_spark.triples import triple_delta
    return triple_delta(_snapshot_triples(spark, sf_dir, new=False),
                        _snapshot_triples(spark, sf_dir, new=True))


def sql_triple_delta() -> str:
    """NOT EXISTS mirror of triples.py::triple_delta over the same
    generate_series-constructed snapshots (Spark sequence() and DuckDB
    generate_series are both inclusive; all arithmetic is integer mod).
    old_t/new_t are each referenced twice → AS MATERIALIZED. DuckDB's
    table-function generate_series can't take lateral column args, so
    the fan-out is unnest(generate_series(...)) in SELECT."""
    return """
  WITH fan AS MATERIALIZED (
    SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS k
    FROM documents),
  old_t AS MATERIALIZED (
    SELECT 'https://host' || (doc_id % 13) || '.example/d/' || doc_id AS url,
           'https://host' || (doc_id % 13) || '.example/d/' || doc_id
             || '#char=' || (k * 10) || ',' || (k * 10 + 5) AS subj,
           'itsrdf:taIdentRef' AS pred,
           'dbr:Ent' || ((doc_id * 7 + k) % 50) AS obj
    FROM fan WHERE doc_id % 7 <> 0),
  new_t AS MATERIALIZED (
    SELECT 'https://host' || (doc_id % 13) || '.example/d/' || doc_id AS url,
           'https://host' || (doc_id % 13) || '.example/d/' || doc_id
             || '#char=' || (k * 10) || ',' || (k * 10 + 5) AS subj,
           'itsrdf:taIdentRef' AS pred,
           'dbr:Ent' || ((doc_id * 7 + k
                          + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                         % 50) AS obj
    FROM fan WHERE doc_id % 2 = 0)
  SELECT n.url, n.subj, n.pred, n.obj, 'added' AS change
  FROM new_t n
  WHERE NOT EXISTS (
    SELECT 1 FROM old_t o
    WHERE o.url = n.url AND o.subj = n.subj
      AND o.pred = n.pred AND o.obj = n.obj)
  UNION ALL
  SELECT o.url, o.subj, o.pred, o.obj, 'removed' AS change
  FROM old_t o
  WHERE o.url IN (SELECT url FROM new_t)
    AND NOT EXISTS (
      SELECT 1 FROM new_t n
      WHERE n.url = o.url AND n.subj = o.subj
        AND n.pred = o.pred AND n.obj = o.obj)"""


def q_entity_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG read path (triples.py::entity_neighbors): 2-hop co-mention
    neighborhood of two seed entities over the recrawl snapshot's
    entity-link triples — hop = min shares-a-page distance, BFS with a
    broadcast uri frontier and an un-broadcast url semi-join (hub
    entities are linked from too many pages to ship)."""
    from dbpedia_spotlight_spark.triples import entity_neighbors
    kg = _snapshot_triples(spark, sf_dir, new=True)
    return entity_neighbors(kg, ["dbr:Ent0", "dbr:Ent7"], hops=2)


def sql_entity_neighbors() -> str:
    """BFS unrolled as per-hop CTEs over the same generate_series
    snapshot; links is referenced once per hop in both roles, so it is
    AS MATERIALIZED (DuckDB would otherwise re-inline the fan-out)."""
    return """
  WITH fan AS MATERIALIZED (
    SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS k
    FROM documents WHERE doc_id % 2 = 0),
  links AS MATERIALIZED (
    SELECT DISTINCT
      'https://host' || (doc_id % 13) || '.example/d/' || doc_id AS url,
      'dbr:Ent' || ((doc_id * 7 + k
                     + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                    % 50) AS uri
    FROM fan),
  hop0 AS (SELECT * FROM (VALUES ('dbr:Ent0'), ('dbr:Ent7')) v(uri)),
  urls1 AS MATERIALIZED (
    SELECT DISTINCT url FROM links
    WHERE uri IN (SELECT uri FROM hop0)),
  hop1 AS MATERIALIZED (
    SELECT DISTINCT uri FROM links
    WHERE url IN (SELECT url FROM urls1)
      AND uri NOT IN (SELECT uri FROM hop0)),
  urls2 AS MATERIALIZED (
    SELECT DISTINCT url FROM links
    WHERE uri IN (SELECT uri FROM hop1)),
  hop2 AS (
    SELECT DISTINCT uri FROM links
    WHERE url IN (SELECT url FROM urls2)
      AND uri NOT IN (SELECT uri FROM hop0
                      UNION ALL SELECT uri FROM hop1))
  SELECT uri, 0 AS hop FROM hop0
  UNION ALL SELECT uri, 1 AS hop FROM hop1
  UNION ALL SELECT uri, 2 AS hop FROM hop2"""


def q_fetch_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling (sources/sitemap.py::fetch_rounds) over a
    skewed synthetic frontier: even doc_ids pile onto mega-host s0 (the
    Common-Crawl shape), odd ones spread over s1..s6. Round assignment
    must be a pure projection after one per-host count join — no
    per-host window sort — and replay exactly in SQL."""
    from dbpedia_spotlight_spark.sources.sitemap import fetch_rounds
    d = _docs(spark, sf_dir)
    hid = F.when(F.col("doc_id") % 2 == 0, F.lit(0))         .otherwise(F.col("doc_id") % 7)
    frontier = d.select(
        F.concat(F.lit("https://s"), hid.cast("string"),
                 F.lit(".example/p/"), F.col("doc_id").cast("string"))
        .alias("canon_url"))
    return fetch_rounds(frontier, per_host_limit=25).select(
        "canon_url", "host", "n_rounds", "fetch_round")


def sql_fetch_rounds() -> str:
    """Mirror: per-host ceil-count rounds + the 60-bit md5-prefix bucket
    modulo (DuckDB parses '0x…' strings in BIGINT casts; / on integers
    is float division, so ceil(COUNT(*)/25) matches Spark's double
    division + ceil)."""
    return """
  WITH f AS MATERIALIZED (
    SELECT 'https://s'
           || (CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 7 END)
           || '.example/p/' || doc_id AS canon_url,
           's' || (CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 7 END)
           || '.example' AS host
    FROM documents),
  c AS (
    SELECT host, CAST(ceil(COUNT(*) / 25) AS INT) AS n_rounds
    FROM f GROUP BY host)
  SELECT f.canon_url, f.host, c.n_rounds,
         CAST(CAST('0x' || substr(md5(f.canon_url || '#fetch'), 1, 15)
                   AS BIGINT) % c.n_rounds AS INT) AS fetch_round
  FROM f JOIN c USING (host)"""


def q_type_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdf:type statements of the materialized KG
    (triples.py::type_triples): one (entity, rdf:type, type) per entity
    LINKED somewhere in the corpus — the KG form of the per-entity
    types the reference's /annotate responses carry. Oracle joins the
    k=1 generative SQL against the inlined entity→type map (the same
    technique as annotate_typed's whitelist)."""
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import type_triples
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0))
    return type_triples(ann)


def sql_type_triples() -> str:
    pairs = [(r[0], t) for r in LEX.entity_rows() for t in r[3]]
    values = ", ".join(f"('{u}', '{t}')" for u, t in pairs)
    return f"""
  SELECT DISTINCT g.uri AS subj, 'rdf:type' AS pred, t.typ AS obj
  FROM ({_sql_generative(k=1)}) g
  JOIN (VALUES {values}) t(uri, typ) ON t.uri = g.uri"""


def q_infer_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS entailment over the materialized KG
    (operators/ontology.py): subClassOf transitive closure (rdfs:11)
    of the fixture's class hierarchy, then type inheritance (rdfs:9)
    over the rdf:type statements of every linked entity. Oracle unrolls
    the depth-2 closure as a self-join (TYPE_HIERARCHY chains are depth
    2 by construction — deepening the fixture hierarchy requires
    another unroll round there)."""
    from dbpedia_spotlight_spark.operators.ontology import (
        infer_types, subclass_closure)
    edges = spark.createDataFrame(LEX.TYPE_HIERARCHY,
                                  "sub string, sup string")
    return infer_types(q_type_triples(spark, sf_dir),
                       subclass_closure(edges))


def sql_infer_types() -> str:
    edge_vals = ", ".join(f"('{a}', '{b}')" for a, b in LEX.TYPE_HIERARCHY)
    return f"""
  WITH e AS (SELECT * FROM (VALUES {edge_vals}) v(sub, sup)),
  clos AS (
    SELECT sub, sup FROM e
    UNION
    SELECT a.sub, b.sup FROM e a JOIN e b ON a.sup = b.sub),
  tt AS ({sql_type_triples()})
  SELECT DISTINCT subj, 'rdf:type' AS pred, obj FROM (
    SELECT subj, obj FROM tt
    UNION
    SELECT tt.subj AS subj, c.sup AS obj
    FROM tt JOIN clos c ON c.sub = tt.obj) u"""


def q_bgp_typed_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style BGP over a full KG snapshot
    (operators/ontology.py::bgp_match): conjunction
    (?m nif:anchorOf ?sf) ∧ (?m itsrdf:taIdentRef ?e) ∧ (?e rdf:type ?t)
    — every typed entity mention with its anchor text, joined purely
    through shared-variable equi-joins over the triple store. The
    snapshot is materialized once (localCheckpoint — the stored-table
    stand-in; a production BGP reads the snapshot from the catalog, so
    each pattern is a scan, not a pipeline re-run)."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_match
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import (
        link_triples, mention_triples, type_triples)
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (
        link_triples(ann).select("subj", "pred", "obj")
        .unionByName(mention_triples(ann).select("subj", "pred", "obj"))
        .unionByName(type_triples(ann))
    )
    return bgp_match(kg, [
        ("?m", "nif:anchorOf", "?sf"),
        ("?m", "itsrdf:taIdentRef", "?e"),
        ("?e", "rdf:type", "?t"),
    ])


def sql_bgp_typed_mentions() -> str:
    pairs = [(r[0], t) for r in LEX.entity_rows() for t in r[3]]
    type_vals = ", ".join(f"('{u}', '{t}')" for u, t in pairs)
    return f"""
  WITH g AS ({_sql_generative(k=1)}),
  m AS (
    SELECT DISTINCT url || '#char=' || CAST("begin" AS VARCHAR) || ','
           || CAST("end" AS VARCHAR) AS m, surface_form AS sf, uri AS e
    FROM g)
  SELECT m.e AS e, m.m AS m, m.sf AS sf, t.typ AS t
  FROM m JOIN (VALUES {type_vals}) t(uri, typ) ON t.uri = m.e"""


def q_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniffing over planted raw page bytes
    (functions/charset.py): each document becomes a binary page whose
    bytes exercise one cascade branch by doc_id mod 6 — UTF-8 BOM, a
    lowercase meta charset declaration, pure ASCII, a valid UTF-8
    multibyte sequence (C3A9), an invalid lone 0x80 byte, a UTF-16-LE
    BOM. Pages are built as hex strings and unhex'd so the high bytes
    are exact; the REAL pandas-UDF sniffer labels them."""
    from dbpedia_spotlight_spark.functions.charset import detect_charset
    d = _docs(spark, sf_dir)
    # printable-ASCII page body ('=' stripped so no accidental
    # charset= token can enter through the corpus text)
    asc = F.substring(
        F.regexp_replace("text", "[^ -~]|=", ""), 1, 40)
    asc_hex = F.hex(F.encode(asc, "utf-8"))
    h = lambda s: F.lit(s.encode().hex().upper())  # noqa: E731
    m = F.col("doc_id") % 6
    page_hex = (
        F.when(m == 0, F.concat(F.lit("EFBBBF"), h("<html>"), asc_hex))
        .when(m == 1, F.concat(h('<html><head><meta charset=windows-1252>'),
                               asc_hex))
        .when(m == 2, F.concat(h("<html>"), asc_hex))
        .when(m == 3, F.concat(h("<html>"), asc_hex, F.lit("C3A9")))
        .when(m == 4, F.concat(h("<html>"), asc_hex, F.lit("80")))
        .otherwise(F.concat(F.lit("FFFE"), asc_hex))
    )
    pages = d.select("doc_id", F.unhex(page_hex).alias("html"))
    return detect_charset(pages).select("doc_id", "charset")


def sql_charset_sniff() -> str:
    """Paper oracle: the expected label follows from the frozen cascade
    spec and the planted byte patterns alone (BOM beats meta beats
    UTF-8-validity probe beats windows-1252 fallback), so the mirror is
    the doc_id arithmetic — the sniffer itself runs only on the Spark
    side, over real bytes."""
    return """
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'utf-8-sig'
           WHEN 1 THEN 'windows-1252'
           WHEN 2 THEN 'utf-8'
           WHEN 3 THEN 'utf-8'
           WHEN 4 THEN 'windows-1252'
           ELSE 'utf-16-le'
         END AS charset
  FROM documents"""


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate (operators/robots.py): hosts h0..h8 are planted
    with h%3==0 → a Disallow:/p + Allow:/p/ok file, h%3==1 → an
    allow-all file, h%3==2 → no robots.txt; each document becomes one
    page whose path class cycles by doc_id mod 4 (disallowed prefix,
    allow-override, unruled path, bare authority). The REAL parser +
    broadcast gate runs; only (h%3==0, '/p/…') pages may drop."""
    from dbpedia_spotlight_spark.operators.robots import apply_robots
    d = _docs(spark, sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    h = F.col("doc_id") % 9
    m = F.col("doc_id") % 4
    path = (
        F.when(m == 0, F.concat(F.lit("/p/x"), s(F.col("doc_id"))))
        .when(m == 1, F.concat(F.lit("/p/ok/"), s(F.col("doc_id"))))
        .when(m == 2, F.concat(F.lit("/q"), s(F.col("doc_id"))))
        .otherwise(F.lit(""))
    )
    pages = d.select(
        F.concat(F.lit("https://h"), s(h), F.lit(".org"), path)
        .alias("url"),
        F.lit("body").alias("text"))
    hosts = d.select((F.col("doc_id") % 9).alias("h")).distinct() \
        .filter(F.col("h") % 3 != 2)
    robots = hosts.select(
        F.concat(F.lit("https://h"), s(F.col("h")),
                 F.lit(".org/robots.txt")).alias("url"),
        F.when(F.col("h") % 3 == 0,
               F.lit("User-agent: *\nDisallow: /p\nAllow: /p/ok\n"))
        .otherwise(F.lit("User-agent: *\nDisallow:\n")).alias("text"))
    return apply_robots(pages.unionByName(robots)).select("url")


def sql_robots_gate() -> str:
    """Paper oracle: the keep-decision follows from the planted rules
    and the longest-prefix/allow-wins spec — only pages on a
    Disallow-ruled host (h%3==0) under /p without the /p/ok override
    (path class 0) drop; robots.txt rows themselves are directives, not
    content, and never appear."""
    return """
  SELECT 'https://h' || (doc_id % 9) || '.org' ||
         CASE doc_id % 4
           WHEN 0 THEN '/p/x' || doc_id
           WHEN 1 THEN '/p/ok/' || doc_id
           WHEN 2 THEN '/q' || doc_id
           ELSE ''
         END AS url
  FROM documents
  WHERE NOT (doc_id % 9 % 3 = 0 AND doc_id % 4 = 0)"""


def q_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Triples rendering (functions/output.py::ntriples_lines): each
    document plants one link triple (IRI object, every 4th with a space
    that must percent-encode) and one mention triple (literal object
    carrying quote, newline and trailing backslash — the full ECHAR
    set's worth of hazards); the JVM-side replace chains render them."""
    from dbpedia_spotlight_spark.functions.output import ntriples_lines
    d = _docs(spark, sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    x = s(F.col("doc_id") % 50)
    subj = F.concat(F.lit("https://host"), s(F.col("doc_id") % 13),
                    F.lit(".example/d/"), s(F.col("doc_id")),
                    F.lit("#char=0,5"))
    link_obj = F.concat(
        F.lit("http://dbpedia.org/resource/Ent"),
        F.when(F.col("doc_id") % 4 == 0, " ").otherwise(""), x)
    lit_obj = F.concat(F.lit('say "e'), x, F.lit('"\n'), F.lit("tail\\"))
    po = F.explode(F.array(
        F.struct(F.lit("itsrdf:taIdentRef").alias("pred"),
                 link_obj.alias("obj")),
        F.struct(F.lit("nif:anchorOf").alias("pred"),
                 lit_obj.alias("obj")),
    )).alias("po")
    t = d.select(subj.alias("subj"), po).select(
        "subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"))
    return ntriples_lines(t)


def sql_ntriples() -> str:
    r"""Mirror of the N-Triples grammar rendering: literal ECHAR chain
    nested backslash-first exactly like the engine's replace chain; IRI
    objects percent-encode the planted space (backslash mirror included
    for chain-order parity even though no IRI plants one)."""
    return r"""
  WITH t AS (
    SELECT 'https://host' || (doc_id % 13) || '.example/d/' || doc_id
             || '#char=0,5' AS subj,
           'itsrdf:taIdentRef' AS pred,
           'http://dbpedia.org/resource/Ent'
             || CASE WHEN doc_id % 4 = 0 THEN ' ' ELSE '' END
             || (doc_id % 50) AS obj
    FROM documents
    UNION ALL
    SELECT 'https://host' || (doc_id % 13) || '.example/d/' || doc_id
             || '#char=0,5' AS subj,
           'nif:anchorOf' AS pred,
           'say "e' || (doc_id % 50) || '"' || chr(10) || 'tail\' AS obj
    FROM documents)
  SELECT CASE pred
    WHEN 'nif:anchorOf' THEN
      '<' || subj
      || '> <http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#anchorOf> "'
      || replace(replace(replace(replace(replace(obj,
           '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'),
           chr(9), '\t')
      || '" .'
    ELSE
      '<' || subj || '> <http://www.w3.org/2005/11/its/rdf#taIdentRef> <'
      || replace(replace(obj, '\', '%5C'), ' ', '%20') || '> .'
  END AS ntriple
  FROM t"""


def q_ntriples_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Triples READER (sources/ntriples.py::parse_ntriples): the same
    planted hazard triples as q_ntriples go through the REAL
    render→parse round trip (writer escapes, reader tokenize-unescapes
    — all JVM column algebra), plus a raw-line lane exercising UCHAR
    decoding (``\\u00e9`` and an astral ``\\U0001F600``). The oracle
    states the expected parse OUTPUT relationally: literals round-trip
    to their planted values, spaced IRIs keep the writer's one-way
    ``%20``, compact predicates surface as full IRIs."""
    from dbpedia_spotlight_spark.functions.output import ntriples_lines
    from dbpedia_spotlight_spark.sources.ntriples import parse_ntriples
    d = _docs(spark, sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    x = s(F.col("doc_id") % 50)
    subj = F.concat(F.lit("https://host"), s(F.col("doc_id") % 13),
                    F.lit(".example/d/"), s(F.col("doc_id")),
                    F.lit("#char=0,5"))
    link_obj = F.concat(
        F.lit("http://dbpedia.org/resource/Ent"),
        F.when(F.col("doc_id") % 4 == 0, " ").otherwise(""), x)
    lit_obj = F.concat(F.lit('say "e'), x, F.lit('"\n'), F.lit("tail\\"))
    po = F.explode(F.array(
        F.struct(F.lit("itsrdf:taIdentRef").alias("pred"),
                 link_obj.alias("obj")),
        F.struct(F.lit("nif:anchorOf").alias("pred"),
                 lit_obj.alias("obj")),
    )).alias("po")
    t = d.select(subj.alias("subj"), po).select(
        "subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"))
    rendered = ntriples_lines(t).select(F.col("ntriple").alias("value"))
    uchar = d.select(F.concat(
        F.lit('<urn:u/'), s(F.col("doc_id")),
        F.lit('> <http://p/u> "caf\\u00e9 e'), x,
        F.lit(' \\U0001F600"@en .')).alias("value"))
    return parse_ntriples(rendered.unionByName(uchar)).select(
        "subj", "pred", "obj", "obj_kind",
        F.coalesce(F.col("lang"), F.lit("-")).alias("lang"),
        F.coalesce(F.col("datatype"), F.lit("-")).alias("datatype"))


def sql_ntriples_roundtrip() -> str:
    r"""The reader's contract stated relationally: escape→unescape is
    the identity on literal bodies, IRI percent-encoding is one-way,
    UCHAR hex decodes to the codepoint (chr 233 / 128512)."""
    return r"""
  WITH base AS (
    SELECT 'https://host' || (doc_id % 13) || '.example/d/' || doc_id
             || '#char=0,5' AS subj,
           doc_id % 50 AS x, doc_id FROM documents)
  SELECT subj,
         'http://www.w3.org/2005/11/its/rdf#taIdentRef' AS pred,
         'http://dbpedia.org/resource/Ent'
           || CASE WHEN doc_id % 4 = 0 THEN '%20' ELSE '' END || x AS obj,
         'iri' AS obj_kind, '-' AS lang, '-' AS datatype
  FROM base
  UNION ALL
  SELECT subj,
         'http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#anchorOf'
           AS pred,
         'say "e' || x || '"' || chr(10) || 'tail\' AS obj,
         'literal' AS obj_kind, '-' AS lang, '-' AS datatype
  FROM base
  UNION ALL
  SELECT 'urn:u/' || doc_id AS subj,
         'http://p/u' AS pred,
         'caf' || chr(233) || ' e' || x || ' ' || chr(128512) AS obj,
         'literal' AS obj_kind, 'en' AS lang, '-' AS datatype
  FROM base"""


def _render_rdf_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted RDF frame shared by the serializer WRITER pairs
    (turtle_render, jsonld_render): compactable dbr:/dbo: IRIs, an
    ECHAR-hazard literal cycling lang / xsd:string datatype / plain,
    and a non-compactable spaced IRI every 4th doc."""
    d = _docs(spark, sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    x = s(F.col("doc_id") % 40)
    m3 = F.col("doc_id") % 3
    subj = F.concat(F.lit("http://dbpedia.org/resource/Ent"), x)
    ns = F.lit(None).cast("string")
    rows = F.filter(F.array(
        F.struct(
            F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
            .alias("pred"),
            F.concat(F.lit("http://dbpedia.org/ontology/T"),
                     s(F.col("doc_id") % 5)).alias("obj"),
            F.lit("iri").alias("obj_kind"),
            ns.alias("lang"), ns.alias("datatype")),
        F.struct(
            F.lit("http://www.w3.org/2000/01/rdf-schema#label")
            .alias("pred"),
            F.concat(F.lit('e"'), x, F.lit("\n"), s(m3)).alias("obj"),
            F.lit("literal").alias("obj_kind"),
            F.when(m3 == 0, "en").alias("lang"),
            F.when(m3 == 1,
                   "http://www.w3.org/2001/XMLSchema#string")
            .alias("datatype")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.struct(
                F.lit("http://www.w3.org/2005/11/its/rdf#taIdentRef")
                .alias("pred"),
                F.lit("http://other.example/x y").alias("obj"),
                F.lit("iri").alias("obj_kind"),
                ns.alias("lang"), ns.alias("datatype"))),
    ), lambda e: e.isNotNull())
    return (d.select(subj.alias("subj"), F.explode(rows).alias("r"))
            .select("subj", "r.pred", "r.obj", "r.obj_kind", "r.lang",
                    "r.datatype"))


def q_turtle_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle WRITER (functions/output.py::turtle_statements): the
    planted serializer fixture (see _render_rdf_fixture) rendered as
    subject-grouped statement blocks (';'-joined preds, ','-joined
    repeated objects, sorted (pred, obj) fold). The oracle rebuilds
    the SAME blocks relationally: compact terms stated directly,
    grouping via a lag-window separator + ordered string_agg — the
    engines agree only if escaping, prefix compaction, dedup and the
    fold order all replay byte-for-byte."""
    from dbpedia_spotlight_spark.functions.output import turtle_statements
    return turtle_statements(
        _render_rdf_fixture(spark, sf_dir)).orderBy("turtle")


def q_jsonld_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD WRITER (functions/output.py::jsonld_statements) over
    the SAME planted RDF as the Turtle pair: one compacted node object
    per subject, sorted keys, repeated preds folded into arrays, JSON
    escapes on every string, IRIs kept raw (JSON needs no
    %-encoding). The oracle rebuilds the byte-exact node strings
    relationally — lag-window separators + ordered string_agg, the
    turtle_render device with the JSON grammar."""
    from dbpedia_spotlight_spark.functions.output import (
        jsonld_statements)
    return jsonld_statements(
        _render_rdf_fixture(spark, sf_dir)).orderBy("jsonld")


def sql_jsonld_render() -> str:
    r"""Relational replay of the JSON-LD rendering: compact CURIEs
    stated directly, JSON escapes on the hazard literal, array
    assembly via lag-window separators + ordered string_agg."""
    return r"""
  WITH base AS (
    SELECT doc_id, doc_id % 40 AS x, doc_id % 5 AS ty, doc_id % 3 AS m3
    FROM documents),
  t AS (
    SELECT 'dbr:Ent' || x AS s, 'rdf:type' AS pt,
           '{"@id":"dbo:T' || ty || '"}' AS jt
    FROM base
    UNION
    SELECT 'dbr:Ent' || x, 'rdfs:label',
           '{"@value":"e\"' || x || '\n' || m3 || '"'
             || CASE m3 WHEN 0 THEN ',"@language":"en"'
                        WHEN 1 THEN ',"@type":"xsd:string"' ELSE '' END
             || '}'
    FROM base
    UNION
    SELECT 'dbr:Ent' || x, 'itsrdf:taIdentRef',
           '{"@id":"http://other.example/x y"}'
    FROM base WHERE doc_id % 4 = 0),
  pieces AS (
    SELECT s, pt, jt,
           CASE WHEN lag(pt) OVER w IS NULL
                THEN '"' || pt || '":['
                WHEN lag(pt) OVER w = pt THEN ','
                ELSE '],"' || pt || '":[' END AS sep
    FROM t WINDOW w AS (PARTITION BY s ORDER BY pt, jt))
  SELECT '{"@id":"' || s || '",'
           || string_agg(sep || jt, '' ORDER BY pt, jt) || ']}'
           AS jsonld
  FROM pieces GROUP BY s
  ORDER BY jsonld"""


def sql_turtle_render() -> str:
    r"""Relational replay of the Turtle rendering: compact terms
    stated directly (dbr:/dbo:/rdf:/rdfs:/xsd: compaction + the
    one-way %20 on the spaced IRI + the ECHAR chain on the literal),
    block assembly via lag-window separators + ordered string_agg."""
    return r"""
  WITH base AS (
    SELECT doc_id, doc_id % 40 AS x, doc_id % 5 AS ty, doc_id % 3 AS m3
    FROM documents),
  t AS (
    SELECT 'dbr:Ent' || x AS s, 'rdf:type' AS pt, 'dbo:T' || ty AS ot
    FROM base
    UNION
    SELECT 'dbr:Ent' || x, 'rdfs:label',
           '"e\"' || x || '\n' || m3 || '"'
             || CASE m3 WHEN 0 THEN '@en'
                        WHEN 1 THEN '^^xsd:string' ELSE '' END
    FROM base
    UNION
    SELECT 'dbr:Ent' || x, 'itsrdf:taIdentRef',
           '<http://other.example/x%20y>'
    FROM base WHERE doc_id % 4 = 0),
  pieces AS (
    SELECT s, pt, ot,
           CASE WHEN lag(pt) OVER w IS NULL THEN pt || ' '
                WHEN lag(pt) OVER w = pt THEN ' , '
                ELSE ' ;' || chr(10) || '    ' || pt || ' ' END AS sep
    FROM t WINDOW w AS (PARTITION BY s ORDER BY pt, ot))
  SELECT s || ' ' || string_agg(sep || ot, '' ORDER BY pt, ot) || ' .'
           AS turtle
  FROM pieces GROUP BY s
  ORDER BY turtle"""


def q_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap → crawl-frontier pair (sources/sitemap.py). Events stand
    in for fetched sitemaps: each event becomes one <url> entry on host
    sm{event_id%11} (loc gets a '#sec' fragment when event_id%7==0 —
    canonicalization must strip it), lastmod = the event ts rendered at
    second resolution iff event_id%5!=4. The crawl store holds every
    event_id%3!=0 url, captured 1 day AFTER its ts except event_id%4==1
    (1 day BEFORE → only those become 'updated'). The REAL XML
    assembly → parse_sitemap → crawl_frontier path runs end-to-end; the
    oracle regenerates the construction relationally."""
    from dbpedia_spotlight_spark.sources.sitemap import (
        crawl_frontier, read_sitemaps,
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s_ = lambda c: c.cast("string")  # noqa: E731
    base = F.concat(F.lit("https://sm"), s_(F.col("event_id") % 11),
                    F.lit(".org/p/"), s_(F.col("event_id")))
    loc = F.concat(base, F.when(F.col("event_id") % 7 == 0,
                                F.lit("#sec")).otherwise(F.lit("")))
    lastmod_xml = F.when(
        F.col("event_id") % 5 != 4,
        F.concat(F.lit("<lastmod>"),
                 F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
                 F.lit("</lastmod>"))).otherwise(F.lit(""))
    entry_xml = F.concat(F.lit("<url><loc>"), loc, F.lit("</loc>"),
                         lastmod_xml, F.lit("</url>"))
    sitemaps = (
        ev.select((F.col("event_id") % 11).alias("h"),
                  entry_xml.alias("x"))
        .groupBy("h")
        .agg(F.concat(F.lit("<urlset>"),
                      F.concat_ws("", F.collect_list("x")),
                      F.lit("</urlset>")).alias("text"))
        .select(F.concat(F.lit("https://sm"), s_(F.col("h")),
                         F.lit(".org/sitemap.xml")).alias("url"), "text")
    )
    crawled = (
        ev.filter(F.col("event_id") % 3 != 0)
        .select(base.alias("url"),
                F.expr("ts + make_interval(0, 0, 0, "
                       "CASE WHEN event_id % 4 = 1 THEN -1 ELSE 1 END)")
                .alias("warc_ts"))
    )
    fr = crawl_frontier(read_sitemaps(sitemaps), crawled)
    return fr.select(
        "loc", "canon_url",
        F.date_format("lastmod", "yyyy-MM-dd HH:mm:ss").alias("lastmod_s"),
        "reason")


def sql_sitemap_frontier() -> str:
    """Relational regeneration of the planted construction: entries and
    the capture store rebuilt directly from events (lastmod truncated to
    the second — the XML render/parse roundtrip's resolution), then the
    frontier rule: never-captured → 'new'; lastmod > newest capture →
    'updated'; everything else (fresh, or captured with no lastmod)
    stays out."""
    return """
  WITH e AS (
    SELECT 'https://sm' || (event_id % 11) || '.org/p/' || event_id
             AS canon_url,
           'https://sm' || (event_id % 11) || '.org/p/' || event_id ||
             CASE WHEN event_id % 7 = 0 THEN '#sec' ELSE '' END AS loc,
           CASE WHEN event_id % 5 <> 4
                THEN date_trunc('second', ts) END AS lastmod
    FROM events),
  g AS (
    SELECT canon_url, min(loc) AS loc, max(lastmod) AS lastmod
    FROM e GROUP BY canon_url),
  c AS (
    SELECT 'https://sm' || (event_id % 11) || '.org/p/' || event_id
             AS canon_url,
           max(ts + INTERVAL (CASE WHEN event_id % 4 = 1
                              THEN -1 ELSE 1 END) DAY) AS last_seen
    FROM events WHERE event_id % 3 <> 0 GROUP BY 1)
  SELECT g.loc,
         g.canon_url,
         strftime(g.lastmod, '%Y-%m-%d %H:%M:%S') AS lastmod_s,
         CASE WHEN c.canon_url IS NULL THEN 'new'
              WHEN g.lastmod IS NOT NULL AND g.lastmod > c.last_seen
              THEN 'updated' END AS reason
  FROM g LEFT JOIN c USING (canon_url)
  WHERE (c.canon_url IS NULL)
     OR (g.lastmod IS NOT NULL AND g.lastmod > c.last_seen)"""


def q_kg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG health metrics (triples.py::kg_stats). Each document plants a
    link + a mention triple on one of 3 predicate classes; doc_id%6==0
    rows are planted TWICE (the set semantics must collapse them), and
    obj collides across docs (%50) so n_objects < n_triples — every
    aggregate is non-vacuous."""
    from dbpedia_spotlight_spark.triples import kg_stats
    d = _docs(spark, sf_dir)
    s_ = lambda c: c.cast("string")  # noqa: E731
    subj = F.concat(F.lit("https://host"), s_(F.col("doc_id") % 13),
                    F.lit(".example/d/"), s_(F.col("doc_id") % 40),
                    F.lit("#char=0,5"))
    pred = F.concat(F.lit("p"), s_(F.col("doc_id") % 3))
    obj = F.concat(F.lit("http://dbpedia.org/resource/Ent"),
                   s_(F.col("doc_id") % 50))
    t = d.select(subj.alias("subj"), pred.alias("pred"), obj.alias("obj"))
    dup = d.filter(F.col("doc_id") % 6 == 0).select(
        subj.alias("subj"), pred.alias("pred"), obj.alias("obj"))
    return kg_stats(t.unionByName(dup))


def sql_kg_stats() -> str:
    """Mirror: regenerate the planted triples (the %6 duplicate slice
    included), SELECT DISTINCT them, then the same two-level rollup;
    counts cast to BIGINT (DuckDB sums to HUGEINT), the mean degree
    rounded to 9dp like the engine."""
    return """
  WITH t AS (
    SELECT DISTINCT
           'https://host' || (doc_id % 13) || '.example/d/'
             || (doc_id % 40) || '#char=0,5' AS subj,
           'p' || (doc_id % 3) AS pred,
           'http://dbpedia.org/resource/Ent' || (doc_id % 50) AS obj
    FROM documents),
  per_subj AS (
    SELECT pred, subj, count(*) AS deg
    FROM t GROUP BY pred, subj),
  a AS (
    SELECT pred,
           CAST(sum(deg) AS BIGINT) AS n_triples,
           CAST(count(*) AS BIGINT) AS n_subjects,
           CAST(max(deg) AS BIGINT) AS max_out_degree
    FROM per_subj GROUP BY pred),
  b AS (
    SELECT pred, CAST(count(DISTINCT obj) AS BIGINT) AS n_objects
    FROM t GROUP BY pred)
  SELECT a.pred, n_triples, n_subjects, n_objects, max_out_degree,
         round(CAST(n_triples AS DOUBLE) / n_subjects, 9)
           AS avg_out_degree
  FROM a JOIN b ON a.pred = b.pred"""


def q_bgp_path_supertypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property path + FILTER over the materialized snapshot
    (operators/ontology.py::bgp_match with a 'rdfs:subClassOf+'
    predicate and a group-end FILTER): every linked mention with its
    asserted class and every PROPER supertype (Thing filtered out).
    The closure runs inside the pattern planner (predicate_closure),
    the rest is the usual shared-variable equi-join chain."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_match
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import link_triples, type_triples
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    sub = spark.createDataFrame(LEX.TYPE_HIERARCHY,
                                "subj string, obj string") \
        .select("subj", F.lit("rdfs:subClassOf").alias("pred"), "obj")
    kg = (
        link_triples(ann).select("subj", "pred", "obj")
        .unionByName(type_triples(ann))
        .unionByName(sub)
    ).localCheckpoint(eager=True)
    return bgp_match(kg, [
        ("?m", "itsrdf:taIdentRef", "?e"),
        ("?e", "rdf:type", "?c"),
        ("?c", "rdfs:subClassOf+", "?sup"),
    ], filters=["sup <> 'Thing'"])


def sql_bgp_path_supertypes() -> str:
    """Mirror: generative k=1 mentions × inlined type map × the
    depth-2 closure unroll (TYPE_HIERARCHY chains are depth 2 — a
    deeper fixture needs another unroll round here), minus Thing."""
    pairs = [(r[0], t) for r in LEX.entity_rows() for t in r[3]]
    type_vals = ", ".join(f"('{u}', '{t}')" for u, t in pairs)
    edge_vals = ", ".join(f"('{a}', '{b}')" for a, b in LEX.TYPE_HIERARCHY)
    return f"""
  WITH g AS ({_sql_generative(k=1)}),
  m AS (
    SELECT DISTINCT url || '#char=' || CAST("begin" AS VARCHAR) || ','
           || CAST("end" AS VARCHAR) AS m, uri AS e
    FROM g),
  e AS (SELECT * FROM (VALUES {edge_vals}) v(sub, sup)),
  clos AS (
    SELECT sub, sup FROM e
    UNION
    SELECT a.sub, b.sup FROM e a JOIN e b ON a.sup = b.sub)
  SELECT t.typ AS c, m.e AS e, m.m AS m, clos.sup AS sup
  FROM m
  JOIN (VALUES {type_vals}) t(uri, typ) ON t.uri = m.e
  JOIN clos ON clos.sub = t.typ
  WHERE clos.sup <> 'Thing'"""


def q_construct_mention_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT over the snapshot
    (operators/ontology.py::construct): lift the 3-hop chain
    mention→entity→class→supertype into a DIRECT (mention,
    ex:mentionType, supertype) edge — rule-based materialization of a
    derived predicate, the core KG-construction move. Same WHERE block
    as bgp_path_supertypes; the template projects it to new triples
    with set semantics."""
    from dbpedia_spotlight_spark.operators.ontology import construct
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import link_triples, type_triples
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    sub = spark.createDataFrame(LEX.TYPE_HIERARCHY,
                                "subj string, obj string") \
        .select("subj", F.lit("rdfs:subClassOf").alias("pred"), "obj")
    kg = (
        link_triples(ann).select("subj", "pred", "obj")
        .unionByName(type_triples(ann))
        .unionByName(sub)
    ).localCheckpoint(eager=True)
    return construct(kg, [
        ("?m", "itsrdf:taIdentRef", "?e"),
        ("?e", "rdf:type", "?c"),
        ("?c", "rdfs:subClassOf+", "?sup"),
    ], template=[("?m", "ex:mentionType", "?sup")],
        filters=["sup <> 'Thing'"])


def sql_construct_mention_types() -> str:
    """Mirror: the bgp_path_supertypes oracle reshaped through the
    template — DISTINCT because CONSTRUCT returns a graph."""
    return f"""
  SELECT DISTINCT m AS subj, 'ex:mentionType' AS pred, sup AS obj
  FROM ({sql_bgp_path_supertypes()})"""


def q_bgp_optional_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL over the snapshot
    (operators/ontology.py::bgp_match): every linked entity with its
    type IF it has a non-default one — the snapshot carries type
    triples only for explicitly-typed entities (obj != 'Concept'), so
    entities on the fixture default genuinely surface as t = NULL, the
    unmatched-OPTIONAL contract. NULLs are rendered as a sentinel
    string (cross-engine hash normalization for the compare harness)."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_match
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import link_triples, type_triples
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (
        link_triples(ann).select("subj", "pred", "obj")
        .unionByName(type_triples(ann).filter(F.col("obj") != "Concept"))
    )
    sol = bgp_match(kg, [("?m", "itsrdf:taIdentRef", "?e")],
                    optional=[[("?e", "rdf:type", "?t")]])
    return sol.select("e", "m",
                      F.coalesce("t", F.lit("<none>")).alias("t"))


def sql_bgp_optional_types() -> str:
    pairs = [(r[0], t) for r in LEX.entity_rows() for t in r[3]
             if t != "Concept"]
    type_vals = ", ".join(f"('{u}', '{t}')" for u, t in pairs)
    return f"""
  WITH g AS ({_sql_generative(k=1)}),
  m AS (
    SELECT DISTINCT url || '#char=' || CAST("begin" AS VARCHAR) || ','
           || CAST("end" AS VARCHAR) AS m, uri AS e
    FROM g)
  SELECT m.e AS e, m.m AS m, coalesce(t.typ, '<none>') AS t
  FROM m LEFT JOIN (VALUES {type_vals}) t(uri, typ) ON t.uri = m.e"""


def q_bgp_union_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION over the corpus snapshot
    (operators/ontology.py::bgp_union): branch 1 = typed entity
    mentions {?m itsrdf:taIdentRef ?e . ?e rdf:type ?t}, branch 2 =
    anchor texts {?m nif:anchorOf ?sf}. Each branch binds a variable
    the other doesn't (?t/?e vs ?sf), so the union genuinely exercises
    the SPARQL padding rule — branch-exclusive variables are unbound
    (NULL) in the other branch's rows; NULLs are rendered as '<none>'
    sentinels for the cross-engine hash compare."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_union
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import (
        link_triples, mention_triples, type_triples)
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (
        link_triples(ann).select("subj", "pred", "obj")
        .unionByName(mention_triples(ann).select("subj", "pred", "obj"))
        .unionByName(type_triples(ann))
    )
    sol = bgp_union(kg, [
        [("?m", "itsrdf:taIdentRef", "?e"), ("?e", "rdf:type", "?t")],
        [("?m", "nif:anchorOf", "?sf")],
    ])
    none = F.lit("<none>")
    return sol.select(
        F.coalesce("e", none).alias("e"), "m",
        F.coalesce("sf", none).alias("sf"),
        F.coalesce("t", none).alias("t"))


def sql_bgp_union_mentions() -> str:
    pairs = [(r[0], t) for r in LEX.entity_rows() for t in r[3]]
    type_vals = ", ".join(f"('{u}', '{t}')" for u, t in pairs)
    return f"""
  WITH g AS ({_sql_generative(k=1)}),
  m AS (
    SELECT DISTINCT url || '#char=' || CAST("begin" AS VARCHAR) || ','
           || CAST("end" AS VARCHAR) AS m, surface_form AS sf, uri AS e
    FROM g)
  SELECT m.e AS e, m.m AS m, '<none>' AS sf, t.typ AS t
  FROM m JOIN (VALUES {type_vals}) t(uri, typ) ON t.uri = m.e
  UNION ALL
  SELECT '<none>' AS e, m.m AS m, m.sf AS sf, '<none>' AS t
  FROM m"""


def q_bgp_values_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES + BIND + MINUS composed over the corpus snapshot
    (operators/ontology.py::bgp_match): mentions are constrained by an
    inline VALUES table carrying every lexicon entity with a planted
    group label (entity_id mod 3 — the multi-column inline-join form),
    BIND computes the URI length, and MINUS removes every solution
    whose entity has an explicit (non-default) rdf:type statement —
    non-vacuous both ways: the fixture lexicon links typed AND
    default-typed entities, so MINUS removes some mentions and keeps
    others."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_match
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import link_triples, type_triples
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (
        link_triples(ann).select("subj", "pred", "obj")
        .unionByName(type_triples(ann).filter(F.col("obj") != "Concept"))
    )
    rows = [(r[0], f"g{r[1] % 3}") for r in LEX.entity_rows()]
    sol = bgp_match(
        kg, [("?m", "itsrdf:taIdentRef", "?e")],
        values=(["?e", "?grp"], rows),
        bind={"?elen": "length(e)"},
        minus=[[("?e", "rdf:type", "?t")]])
    return sol.select("e", F.col("elen").cast("long").alias("elen"),
                      "grp", "m")


def sql_bgp_values_minus() -> str:
    rows = [(r[0], f"g{r[1] % 3}") for r in LEX.entity_rows()]
    val_rows = ", ".join(f"('{u}', '{g}')" for u, g in rows)
    typed = sorted({r[0] for r in LEX.entity_rows()
                    if any(t != "Concept" for t in r[3])})
    typed_vals = ", ".join(f"('{u}')" for u in typed)
    return f"""
  WITH g AS ({_sql_generative(k=1)}),
  m AS (
    SELECT DISTINCT url || '#char=' || CAST("begin" AS VARCHAR) || ','
           || CAST("end" AS VARCHAR) AS m, uri AS e
    FROM g)
  SELECT m.e AS e, CAST(length(m.e) AS BIGINT) AS elen, v.grp AS grp,
         m.m AS m
  FROM m JOIN (VALUES {val_rows}) v(e, grp) ON v.e = m.e
  WHERE m.e NOT IN (SELECT uri FROM (VALUES {typed_vals}) t(uri))"""


def q_kg_type_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-property audit over the INFERRED type store
    (triples.py::functional_violations on rdf:type after rdfs:9/11
    entailment): every linked entity holds its asserted class plus the
    inherited supertypes, so each subject carries 2-3 distinct objects
    — the report is the per-subject cardinality with the min/max
    object as the conflict sample."""
    from dbpedia_spotlight_spark.operators.ontology import (
        infer_types, subclass_closure)
    from dbpedia_spotlight_spark.triples import functional_violations
    edges = spark.createDataFrame(LEX.TYPE_HIERARCHY,
                                  "sub string, sup string")
    inferred = infer_types(q_type_triples(spark, sf_dir),
                           subclass_closure(edges))
    return functional_violations(inferred, "rdf:type")


def sql_kg_type_cardinality() -> str:
    return f"""
  WITH it AS ({sql_infer_types()})
  SELECT subj, CAST(count(DISTINCT obj) AS BIGINT) AS n_objects,
         min(obj) AS first_obj, max(obj) AS last_obj
  FROM it GROUP BY subj HAVING count(DISTINCT obj) > 1"""


def _sql_mention_frame() -> str:
    """Shared oracle fragment: the distinct (mention-fragment, sf, uri)
    rows of the k=1 generative KG snapshot — the relational image of
    mention_triples ∪ link_triples keyed by the nif fragment id."""
    return f"""
  g AS ({_sql_generative(k=1)}),
  m AS (
    SELECT DISTINCT url || '#char=' || CAST("begin" AS VARCHAR) || ','
           || CAST("end" AS VARCHAR) AS m, surface_form AS sf, uri AS e
    FROM g)"""


def q_infer_domain_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdfs:2/3 property-schema entailment over the materialized KG
    (operators/ontology.py::infer_domain_range): the fixture declares
    domains for BOTH emission predicates (every mention fragment types
    nif:Phrase exactly once — cross-predicate dedup) and range Concept
    for the link predicate (every linked entity types Concept), then
    the rdfs:9 closure lift adds Thing. Oracle replays the declaration
    joins over the relational snapshot and unrolls the depth-2
    closure."""
    from dbpedia_spotlight_spark.operators.ontology import (
        infer_domain_range, subclass_closure)
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import link_triples, mention_triples
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (link_triples(ann).select("subj", "pred", "obj")
          .unionByName(mention_triples(ann).select("subj", "pred", "obj")))
    doms = spark.createDataFrame(LEX.PRED_DOMAINS, "pred string, cls string")
    rans = spark.createDataFrame(LEX.PRED_RANGES, "pred string, cls string")
    edges = spark.createDataFrame(LEX.TYPE_HIERARCHY,
                                  "sub string, sup string")
    return infer_domain_range(kg, doms, rans,
                              closure=subclass_closure(edges))


def sql_infer_domain_range() -> str:
    dom_vals = ", ".join(f"('{p}', '{c}')" for p, c in LEX.PRED_DOMAINS)
    ran_vals = ", ".join(f"('{p}', '{c}')" for p, c in LEX.PRED_RANGES)
    edge_vals = ", ".join(f"('{a}', '{b}')" for a, b in LEX.TYPE_HIERARCHY)
    return f"""
  WITH {_sql_mention_frame()},
  tri AS (
    SELECT m AS subj, 'nif:anchorOf' AS pred, sf AS obj FROM m
    UNION ALL
    SELECT m, 'itsrdf:taIdentRef', e FROM m),
  asserted AS (
    SELECT t.subj AS subj, d.cls AS obj
    FROM tri t JOIN (VALUES {dom_vals}) d(pred, cls) ON d.pred = t.pred
    UNION
    SELECT t.obj, r.cls
    FROM tri t JOIN (VALUES {ran_vals}) r(pred, cls) ON r.pred = t.pred),
  e AS (SELECT * FROM (VALUES {edge_vals}) v(sub, sup)),
  clos AS (
    SELECT sub, sup FROM e
    UNION
    SELECT a.sub, b.sup FROM e a JOIN e b ON a.sup = b.sub)
  SELECT DISTINCT subj, 'rdf:type' AS pred, obj FROM (
    SELECT subj, obj FROM asserted
    UNION
    SELECT a.subj, c.sup FROM asserted a JOIN clos c ON c.sub = a.obj) u"""


def q_bgp_agg_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 aggregation (operators/ontology.py::bgp_aggregate):
    GROUP BY ?t over the typed-mention BGP with COUNT(*) +
    COUNT(DISTINCT ?e) and a HAVING gate on the mention count — the
    per-class KG census a consumer runs first. The HAVING threshold is
    non-vacuous at both driver SFs (rare classes drop)."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_aggregate
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import (
        link_triples, mention_triples, type_triples)
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (link_triples(ann).select("subj", "pred", "obj")
          .unionByName(mention_triples(ann).select("subj", "pred", "obj"))
          .unionByName(type_triples(ann)))
    return bgp_aggregate(
        kg,
        [("?m", "nif:anchorOf", "?sf"),
         ("?m", "itsrdf:taIdentRef", "?e"),
         ("?e", "rdf:type", "?t")],
        group_by=["?t"],
        aggregates={"n_mentions": "count(*)",
                    "n_entities": "count(distinct e)"},
        having="n_mentions >= 100")


def sql_bgp_agg_type_counts() -> str:
    pairs = [(r[0], t) for r in LEX.entity_rows() for t in r[3]]
    type_vals = ", ".join(f"('{u}', '{t}')" for u, t in pairs)
    return f"""
  WITH {_sql_mention_frame()},
  sol AS (
    SELECT m.m AS m, m.e AS e, t.typ AS t
    FROM m JOIN (VALUES {type_vals}) t(uri, typ) ON t.uri = m.e)
  SELECT t, COUNT(*) AS n_mentions,
         COUNT(DISTINCT e) AS n_entities
  FROM sol GROUP BY t HAVING COUNT(*) >= 100"""


def q_bgp_select_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SELECT solution modifiers
    (operators/ontology.py::bgp_select): projection to (?sf, ?e),
    DISTINCT (collapses the per-mention fan-out), total ORDER BY and an
    OFFSET 5 / LIMIT 10 page — non-vacuous on the 22-pair lexicon at
    both driver SFs (head and tail both dropped). ORDER BY + LIMIT
    collapses to TakeOrderedAndProject (per-partition top-k, no global
    sort shuffle)."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_select
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import link_triples, mention_triples
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (link_triples(ann).select("subj", "pred", "obj")
          .unionByName(mention_triples(ann).select("subj", "pred", "obj")))
    return bgp_select(
        kg,
        [("?m", "nif:anchorOf", "?sf"), ("?m", "itsrdf:taIdentRef", "?e")],
        select_vars=["?sf", "?e"], distinct=True,
        order_by=["?sf", "?e"], offset=5, limit=10)


def sql_bgp_select_page() -> str:
    return f"""
  WITH {_sql_mention_frame()}
  SELECT DISTINCT sf, e FROM m ORDER BY sf, e LIMIT 10 OFFSET 5"""


def q_bgp_sequence_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 sequence property path
    (operators/ontology.py::_expand_sequences via bgp_match): one
    pattern (?m itsrdf:taIdentRef/rdf:type ?t) — mention to ontology
    type through the spec's fresh-variable translation, internal
    variable never projected. Oracle: the two-hop join written out
    relationally."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_match
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import (
        link_triples, mention_triples, type_triples)
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (link_triples(ann).select("subj", "pred", "obj")
          .unionByName(mention_triples(ann).select("subj", "pred", "obj"))
          .unionByName(type_triples(ann)))
    return bgp_match(kg, [("?m", "itsrdf:taIdentRef/rdf:type", "?t")])


def sql_bgp_sequence_path() -> str:
    pairs = [(r[0], t) for r in LEX.entity_rows() for t in r[3]]
    type_vals = ", ".join(f"('{u}', '{t}')" for u, t in pairs)
    return f"""
  WITH {_sql_mention_frame()}
  SELECT m.m AS m, t.typ AS t
  FROM m JOIN (VALUES {type_vals}) t(uri, typ) ON t.uri = m.e"""


def q_bgp_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER NOT EXISTS (bgp_match ``not_exists``): anchored
    mentions whose entity carries NO rdf:type Software statement — the
    anti-join filter form, non-vacuous because Software-typed mentions
    exist at both driver SFs. Oracle: NOT EXISTS subquery over the
    inlined type map."""
    from dbpedia_spotlight_spark.operators.ontology import bgp_match
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import (
        link_triples, mention_triples, type_triples)
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (link_triples(ann).select("subj", "pred", "obj")
          .unionByName(mention_triples(ann).select("subj", "pred", "obj"))
          .unionByName(type_triples(ann)))
    return bgp_match(
        kg,
        [("?m", "nif:anchorOf", "?sf"), ("?m", "itsrdf:taIdentRef", "?e")],
        not_exists=[[("?e", "rdf:type", "Software")]])


def sql_bgp_not_exists() -> str:
    sw = sorted({r[0] for r in LEX.entity_rows() if "Software" in r[3]})
    sw_vals = ", ".join(f"('{u}')" for u in sw)
    return f"""
  WITH {_sql_mention_frame()}
  SELECT m.e AS e, m.m AS m, m.sf AS sf
  FROM m
  WHERE NOT EXISTS (
    SELECT 1 FROM (VALUES {sw_vals}) t(uri) WHERE t.uri = m.e)"""


def q_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant-supervision export (operators/export.py::
    mention_contexts): every annotation with its exact span text and a
    40-char window either side, sliced from the same text the offsets
    index. Oracle replays the 1-based clipped substring arithmetic in
    DuckDB over the generative mention rows."""
    from dbpedia_spotlight_spark.operators.export import mention_contexts
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    pages = _web_pages_from_docs(spark, sf_dir)
    ann = annotate(spark, pages, _static_model_bc(spark),
                   PipelineConfig(disambiguator="generative",
                                  confidence=0.0, support=0))
    return mention_contexts(ann, pages, window=40)


def sql_mention_contexts() -> str:
    return f"""
  WITH g AS ({_sql_generative(k=1)}),
  d AS (SELECT source || '/' || doc_id AS url, text FROM documents)
  SELECT g.url AS url, g."begin" AS begin, g."end" AS "end",
         g.surface_form AS surface_form, g.uri AS uri,
         substr(d.text, GREATEST(1, g."begin" - 39),
                LEAST(40, g."begin")) AS left_ctx,
         substr(d.text, g."begin" + 1, g."end" - g."begin")
           AS mention_text,
         substr(d.text, g."end" + 1, 40) AS right_ctx
  FROM g JOIN d USING (url)"""


def _top_support_uris(n: int) -> list[str]:
    """Deterministic seed choice shared by both engines: the n
    highest-support lexicon entities (ties broken by uri) — guaranteed
    present in the co-mention graph at every SF (high-support ⇒ linked
    somewhere in any non-trivial corpus slice)."""
    rows = sorted(LEX.entity_rows(), key=lambda r: (-r[2], r[0]))
    return [r[0] for r in rows[:n]]


def q_describe_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE (operators/ontology.py::describe): every triple
    about the highest-support lexicon entity over the full KG snapshot
    — link triples carry it as OBJECT, rdf:type triples as SUBJECT, so
    both positions of the OR-of-equalities filter are non-vacuous."""
    from dbpedia_spotlight_spark.operators.ontology import describe
    from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
    from dbpedia_spotlight_spark.triples import (
        link_triples, mention_triples, type_triples)
    ann = annotate(
        spark, _web_pages_from_docs(spark, sf_dir),
        _static_model_bc(spark),
        PipelineConfig(disambiguator="generative", confidence=0.0,
                       support=0)).localCheckpoint(eager=True)
    kg = (link_triples(ann).select("subj", "pred", "obj")
          .unionByName(mention_triples(ann).select("subj", "pred", "obj"))
          .unionByName(type_triples(ann)))
    return describe(kg, _top_support_uris(1)[0])


def sql_describe_entity() -> str:
    pairs = [(r[0], t) for r in LEX.entity_rows() for t in r[3]]
    type_vals = ", ".join(f"('{u}', '{t}')" for u, t in pairs)
    uri = _top_support_uris(1)[0]
    return f"""
  WITH {_sql_mention_frame()},
  tri AS (
    SELECT m AS subj, 'nif:anchorOf' AS pred, sf AS obj FROM m
    UNION
    SELECT m, 'itsrdf:taIdentRef', e FROM m
    UNION
    SELECT DISTINCT m.e, 'rdf:type', t.typ
    FROM m JOIN (VALUES {type_vals}) t(uri, typ) ON t.uri = m.e)
  SELECT DISTINCT subj, pred, obj FROM tri
  WHERE subj = '{uri}' OR obj = '{uri}'"""


def q_ppr_related(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py::
    personalized_pagerank): walk proximity to the two highest-support
    entities over the co-mention graph, 10 iterations, 9dp rounded.
    Oracle unrolls the teleport-vector iteration as CTE chains — the
    same MATERIALIZED-hint structure as the global pagerank oracle."""
    from dbpedia_spotlight_spark.operators.graph import (
        cooccurrence_edges, personalized_pagerank)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    ppr = personalized_pagerank(edges, _top_support_uris(2), n_iter=10)
    return ppr.select("uri", F.round("rank", 9).alias("rank"))


def sql_ppr_related(n_iter: int = 10) -> str:
    seed_vals = ", ".join(f"('{u}')" for u in _top_support_uris(2))
    iters = []
    prev = "r0"
    for k in range(1, n_iter + 1):
        iters.append(f"""
  r{k} AS (
    SELECT nm.dst AS uri,
           (1.0::DOUBLE - 0.85::DOUBLE) * sp.t
             + 0.85::DOUBLE * sum(nm.p * r.rank) AS rank
    FROM norm nm
    JOIN {prev} r ON nm.src = r.uri
    JOIN sp ON sp.uri = nm.dst
    GROUP BY nm.dst, sp.t
  )""")
        prev = f"r{k}"
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS MATERIALIZED (SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  eg AS (
    SELECT x.uri AS uri_a, y.uri AS uri_b, count(*) AS n_docs
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2
  ),
  directed AS MATERIALIZED (
    SELECT uri_a AS src, uri_b AS dst, CAST(n_docs AS DOUBLE) AS w FROM eg
    UNION ALL
    SELECT uri_b AS src, uri_a AS dst, CAST(n_docs AS DOUBLE) AS w FROM eg
  ),
  outw AS (SELECT src, sum(w) AS ow FROM directed GROUP BY src),
  norm AS MATERIALIZED (
    SELECT d.src, d.dst, d.w / o.ow AS p
    FROM directed d JOIN outw o ON d.src = o.src
  ),
  nodes AS (SELECT DISTINCT src AS uri FROM directed),""" + f"""
  seeds AS (SELECT * FROM (VALUES {seed_vals}) s(uri)),
  ns AS MATERIALIZED (
    SELECT count(*) AS n FROM nodes JOIN seeds USING (uri)),
  sp AS MATERIALIZED (
    SELECT n.uri,
           CASE WHEN s.uri IS NOT NULL
                THEN 1.0::DOUBLE / (SELECT n FROM ns)
                ELSE 0.0::DOUBLE END AS t
    FROM nodes n LEFT JOIN seeds s ON s.uri = n.uri),
  r0 AS (SELECT uri, t AS rank FROM sp),""" + ",".join(iters) + f"""
  SELECT uri, round(rank, 9) AS rank FROM r{n_iter}""")


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities
    (operators/graph.py::label_propagation) over the doc-level
    co-mention graph, 4 synchronous rounds. Oracle unrolls each round
    as two CTEs (weighted label sum per neighbour, then the
    max-weight/min-label argmin as a window rank) — integer edge
    weights summed as doubles are exact in both engines, so parity is
    value-exact, no rounding needed."""
    from dbpedia_spotlight_spark.operators.graph import (
        cooccurrence_edges, label_propagation)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return label_propagation(edges, n_iter=4)


def sql_lpa_communities() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, 5):
        rounds.append(f"""
  c{i} AS (
    SELECT u.dst, l.label, SUM(u.w) AS cw
    FROM und u JOIN {prev} l ON l.uri = u.src GROUP BY 1, 2),
  l{i} AS (
    SELECT dst AS uri, label FROM (
      SELECT dst, label,
             ROW_NUMBER() OVER (PARTITION BY dst
                                ORDER BY cw DESC, label) AS rn
      FROM c{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS (SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  ed AS (
    SELECT x.uri AS uri_a, y.uri AS uri_b, count(*) AS n_docs
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),
  und AS (
    SELECT uri_a AS src, uri_b AS dst, CAST(n_docs AS DOUBLE) AS w FROM ed
    UNION ALL
    SELECT uri_b, uri_a, CAST(n_docs AS DOUBLE) FROM ed),
  l0 AS (SELECT DISTINCT src AS uri, src AS label FROM und),"""
        + ",".join(rounds) + f"""
  SELECT uri, label FROM {prev}""")


def q_pmi_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-weighted co-mention edges
    (operators/graph.py::pmi_edges): PMI/NPMI over the doc-level
    co-occurrence graph — marginals by one uri-keyed countDistinct, N
    via a broadcast one-row join, scores rounded to the 9dp
    cross-engine contract. Oracle recomputes pairs, marginals and both
    logs relationally."""
    from dbpedia_spotlight_spark.operators.graph import pmi_edges
    return pmi_edges(q_annotate_prior(spark, sf_dir))


def sql_pmi_edges() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS (SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  ed AS (
    SELECT x.uri AS uri_a, y.uri AS uri_b,
           CAST(count(*) AS BIGINT) AS n_ab
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),
  mg AS (SELECT uri, CAST(count(DISTINCT doc_id) AS BIGINT) AS n
         FROM du GROUP BY uri),
  tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS N FROM du)
  SELECT e.uri_a, e.uri_b, e.n_ab, a.n AS n_a, b.n AS n_b,
         ROUND(ln(e.n_ab * t.N / CAST(a.n * b.n AS DOUBLE)), 9) AS pmi,
         CASE WHEN e.n_ab = t.N THEN 1.0
              ELSE ROUND(ln(e.n_ab * t.N / CAST(a.n * b.n AS DOUBLE))
                         / (-ln(e.n_ab / CAST(t.N AS DOUBLE))), 9)
         END AS npmi
  FROM ed e
  JOIN mg a ON a.uri = e.uri_a
  JOIN mg b ON b.uri = e.uri_b
  CROSS JOIN tot t"""
    )


# ---------------------------------------------------------------------------
# benchmark decontamination + n-gram LM perplexity (training-data hygiene)
# ---------------------------------------------------------------------------

# DuckDB mirror of operators/decontam._norm: the pinned 1:1 casefold
# translate + Java-\s whitespace collapse ('[ \t\n\x0b\f\r]' — RE2's \s
# lacks \x0b, so the class is explicit).
def _sql_decontam_norm(table: str = "documents") -> str:
    from dbpedia_spotlight_spark.operators.textstats import (
        CASEFOLD_FROM, CASEFOLD_TO,
    )
    return f"""
  norm AS (
    SELECT doc_id,
           trim(regexp_replace(translate(text, '{CASEFOLD_FROM}',
                                         '{CASEFOLD_TO}'),
                               '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS t
    FROM {table})"""


def _sql_word_ngrams(src: str, n: int) -> str:
    """list_distinct word n-grams of normalized column ``t`` (mirror of
    decontam.word_ngrams incl. the short-doc whole-text fallback)."""
    toks = f"string_split({src}, ' ')"
    return (f"list_distinct(CASE WHEN len({toks}) >= {n} THEN "
            f"list_transform(range(0, len({toks}) - {n - 1}), "
            f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')) "
            f"ELSE [{src}] END)")


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL cardinality sketch (operators/sketches.py):
    approximate distinct user_id per event_type at p=8. The estimator
    sums registers in EXACT integer space (DECIMAL(38,0) / HUGEINT)
    before its one double division, so both engines produce the
    identical 4dp estimate; the oracle rebuilds hash → register →
    estimate relationally, including the linear-counting branch."""
    from dbpedia_spotlight_spark.operators.sketches import (
        distinct_count_approx,
    )
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (distinct_count_approx(events, ["event_type"], "user_id", p=8)
            .orderBy("event_type"))


def sql_hll_users(p: int = 8) -> str:
    from dbpedia_spotlight_spark.operators.sketches import HASH_BITS, _alpha
    m = 1 << p
    w_bits = HASH_BITS - p
    num = _alpha(m) * m * m * float(1 << HASH_BITS)
    return f"""
  WITH h AS (
    SELECT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
             AS h60
    FROM events),
  reg AS (
    SELECT event_type, (h60 >> {w_bits}) AS bucket,
           CASE WHEN (h60 & ((1::BIGINT << {w_bits}) - 1)) = 0
                THEN {w_bits + 1}
                ELSE {w_bits + 1}
                     - length(bin(h60 & ((1::BIGINT << {w_bits}) - 1)))
           END AS rho
    FROM h),
  regs AS (
    SELECT event_type, bucket, max(rho) AS rho
    FROM reg GROUP BY 1, 2),
  agg AS (
    SELECT event_type, count(*) AS n_present,
           sum(1::HUGEINT << ({HASH_BITS} - rho))
             + ({m} - count(*))::HUGEINT * (1::HUGEINT << {HASH_BITS})
             AS s_int
    FROM regs GROUP BY 1)
  SELECT event_type,
         round(CASE WHEN {num!r} / CAST(s_int AS DOUBLE) <= {2.5 * m!r}
                         AND ({m} - n_present) > 0
                    THEN {float(m)!r}
                         * ln({float(m)!r}
                              / CAST({m} - n_present AS DOUBLE))
                    ELSE {num!r} / CAST(s_int AS DOUBLE)
               END, 4) AS est
  FROM agg
  ORDER BY event_type"""


def q_text_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed text embeddings (operators/embed.py): signed
    hashed-TF, L2-normalized, dim=16 for the oracle (the norm² is an
    exact integer by construction, so both engines round identical
    values; dim kept small to keep the oracle grid join readable)."""
    from dbpedia_spotlight_spark.operators.embed import text_embeddings
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # exploded scalar shape (doc_id, i, x): the driver's value-hash
    # compares scalar cells, not arrays
    return (text_embeddings(docs, dim=16)
            .select("doc_id", F.posexplode("embedding").alias("i", "x"))
            .orderBy("doc_id", "i"))


def sql_text_embeddings(dim: int = 16) -> str:
    return f"""
  WITH {_sql_decontam_norm()},
  toks AS (
    SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm),
  h AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
    FROM toks),
  c AS (
    SELECT doc_id, (h % {dim})::INT AS bucket,
           sum(CASE WHEN (h >> 20) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS c
    FROM h GROUP BY 1, 2),
  grid AS (
    SELECT d.doc_id, r.i::INT AS i
    FROM (SELECT DISTINCT doc_id FROM norm) d, range(0, {dim}) r(i)),
  raw AS (
    SELECT g.doc_id, g.i, coalesce(c.c, 0.0) AS x
    FROM grid g LEFT JOIN c ON c.doc_id = g.doc_id AND c.bucket = g.i),
  n AS (
    SELECT doc_id, sqrt(sum(x * x)) AS nrm FROM raw GROUP BY 1)
  SELECT raw.doc_id, raw.i,
         CASE WHEN n.nrm > 0 THEN round(raw.x / n.nrm, 9)
              ELSE raw.x END AS x
  FROM raw JOIN n ON n.doc_id = raw.doc_id
  ORDER BY raw.doc_id, raw.i"""


def q_bloom_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom membership (operators/sketches.py): the seen-set
    built from even-event user ids, probed with every user id plus a
    shifted never-seen set — no false negatives by construction, and
    the word table (60-bit packing, bit_or fold) is replayed exactly in
    DuckDB."""
    from dbpedia_spotlight_spark.operators.sketches import (
        bloom_build, bloom_contains,
    )
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    seen = events.filter(F.col("event_id") % 2 == 0) \
        .select(F.col("user_id").cast("string").alias("item"))
    bloom = bloom_build(seen, "item", m_bits=1 << 16, k=5)
    probes = (events.select(F.col("user_id").cast("long").alias("uid"))
              .distinct()
              .unionByName(
                  events.select((F.col("user_id") + 1_000_000)
                                .cast("long").alias("uid")).distinct())
              .withColumn("item", F.col("uid").cast("string")))
    return (bloom_contains(probes, bloom, "item", m_bits=1 << 16, k=5)
            .select("uid", "maybe_seen").orderBy("uid"))


def sql_bloom_seen(m_bits: int = 1 << 16, k: int = 5) -> str:
    from dbpedia_spotlight_spark.operators.sketches import WORD_BITS
    js = ", ".join(str(j) for j in range(k))
    return f"""
  WITH src AS (
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS item
    FROM events WHERE event_id % 2 = 0),
  spos AS (
    SELECT ('0x' || substr(md5(item || '#' || j::VARCHAR), 1, 15))::BIGINT
             % {m_bits} AS pos
    FROM src, UNNEST([{js}]) AS t(j)),
  bloom AS (
    SELECT pos // {WORD_BITS} AS word,
           bit_or(1::BIGINT << (pos % {WORD_BITS})::INT) AS bits
    FROM spos GROUP BY 1),
  probes AS (
    SELECT uid, CAST(uid AS VARCHAR) AS item FROM (
      SELECT DISTINCT CAST(user_id AS BIGINT) AS uid FROM events
      UNION
      SELECT DISTINCT CAST(user_id + 1000000 AS BIGINT) FROM events)),
  ppos AS (
    SELECT uid,
           ('0x' || substr(md5(item || '#' || j::VARCHAR), 1, 15))::BIGINT
             % {m_bits} AS pos
    FROM probes, UNNEST([{js}]) AS t(j)),
  checks AS (
    SELECT p.uid,
           CASE WHEN (coalesce(b.bits, 0) & (1::BIGINT
                      << (p.pos % {WORD_BITS})::INT))
                     = (1::BIGINT << (p.pos % {WORD_BITS})::INT)
                THEN 1 ELSE 0 END AS ok
    FROM ppos p LEFT JOIN bloom b ON b.word = p.pos // {WORD_BITS})
  SELECT uid, min(ok) = 1 AS maybe_seen
  FROM checks GROUP BY uid ORDER BY uid"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing (operators/sampling.py): docs
    hash into 8 shards, canonical (hash, id) order, exclusive token
    cumsum div 512 = pack id. Integral division on both engines (DuckDB
    CAST(double AS BIGINT) rounds while Spark truncates — div/// avoid
    the hazard entirely)."""
    from dbpedia_spotlight_spark.operators.decontam import _norm
    from dbpedia_spotlight_spark.operators.sampling import pack_sequences
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nt = docs.select(
        "doc_id", F.size(F.split(_norm(F.col("text")), " "))
        .alias("n_tokens"))
    return (pack_sequences(nt, budget=512, n_shards=8)
            .orderBy("doc_id"))


def sql_pack_sequences(budget: int = 512, n_shards: int = 8) -> str:
    return f"""
  WITH {_sql_decontam_norm()},
  nt AS (
    SELECT doc_id, len(string_split(t, ' ')) AS n_tokens FROM norm),
  g AS (
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#pack'),
                           1, 15))::BIGINT % 1048576 AS h
    FROM nt),
  sh AS (
    SELECT doc_id, n_tokens, CAST(h % {n_shards} AS INTEGER) AS shard, h
    FROM g),
  cum AS (
    SELECT doc_id, n_tokens, shard,
           coalesce(sum(n_tokens) OVER (
             PARTITION BY shard ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before
    FROM sh)
  SELECT doc_id, n_tokens, shard,
         CAST(cum_before // {budget} AS BIGINT) AS pack
  FROM cum ORDER BY doc_id"""


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): flag training
    docs sharing ≥1 word 8-gram with a deterministic planted benchmark
    (the first 12 normalized words of every doc_id ≡ 3 (mod 37) — the
    GPT-3-style eval-leak shape). Plan: gram explode → broadcast hash
    probe → one map-side-combinable count on doc_id; the oracle rebuilds
    benchmark, grams and join relationally."""
    from dbpedia_spotlight_spark.operators.decontam import (
        _norm, benchmark_overlap,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 37 == 3).select(
        F.array_join(F.slice(F.split(_norm(F.col("text")), " "), 1, 12), " ")
        .alias("text"))
    return benchmark_overlap(docs, bench, n=8).orderBy("id")


def sql_decontam_overlap() -> str:
    return f"""
  WITH {_sql_decontam_norm()},
  bench AS (
    SELECT array_to_string(list_slice(string_split(t, ' '), 1, 12), ' ') AS bt
    FROM norm WHERE doc_id % 37 = 3),
  bgrams AS (
    SELECT DISTINCT unnest({_sql_word_ngrams('bt', 8)}) AS gram FROM bench),
  dgr AS (
    SELECT doc_id, {_sql_word_ngrams('t', 8)} AS grams FROM norm),
  dg AS (
    SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM dgr)
  SELECT dg.doc_id AS id, CAST(dg.n_grams AS INTEGER) AS n_grams,
         CAST(count(*) AS BIGINT) AS n_hit,
         count(*) / CAST(dg.n_grams AS DOUBLE) AS hit_frac
  FROM dg JOIN bgrams USING (gram)
  GROUP BY dg.doc_id, dg.n_grams
  ORDER BY id"""


def q_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal (operators/lm.py): add-α bigram LM
    count-trained on the doc_id ≡ 0 (mod 5) reference slice, perplexity
    scored over ALL docs — OOV tokens exercise the smoothing path
    (coalesce-to-0 left joins). Zero UDFs on either stage; the oracle
    replays train + score relationally. 9dp mean-ln contract, ppl
    derived from the already-rounded mean."""
    from dbpedia_spotlight_spark.operators.lm import (
        doc_perplexity, train_bigram_lm,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 5 == 0), alpha=0.1)
    return doc_perplexity(docs, lm).orderBy("doc_id")


def sql_ngram_perplexity() -> str:
    return f"""
  WITH {_sql_decontam_norm()},
  toks AS (
    SELECT doc_id, list_prepend('<s>', string_split(t, ' ')) AS arr
    FROM norm),
  bg AS (
    SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
    FROM toks, UNNEST(range(1, len(arr))) AS u(i)),
  ref AS (SELECT * FROM bg WHERE doc_id % 5 = 0),
  ug AS (SELECT w1 AS w, count(*) AS c FROM ref GROUP BY 1),
  bgc AS (SELECT w1, w2, count(*) AS c FROM ref GROUP BY 1, 2),
  v AS (SELECT count(DISTINCT w2) AS v FROM ref WHERE w2 <> '<s>'),
  scored AS (
    SELECT bg.doc_id,
           ln((coalesce(bgc.c, 0) + 0.1)
              / (coalesce(ug.c, 0) + 0.1 * (v.v + 1))) AS lnp
    FROM bg
    LEFT JOIN bgc ON bgc.w1 = bg.w1 AND bgc.w2 = bg.w2
    LEFT JOIN ug ON ug.w = bg.w1
    CROSS JOIN v)
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(lnp), 9) AS avg_lnp,
         round(exp(-round(avg(lnp), 9)), 6) AS perplexity
  FROM scored
  GROUP BY doc_id
  ORDER BY doc_id"""


def _union_all(parts: list[DataFrame]) -> DataFrame:
    """unionByName fold for the planted-KG fixture builders."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_shape_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-core-lite validation report (operators/shapes.py::
    validate_shapes) over a KG planted from the documents table so
    every constraint component fires on a known slice: entities are
    ``e{doc_id % 40}``; id%4==3 are Orgs (focus exclusion), names are
    missing for id%3==0 and doubled for id%5==1 (min/maxCount),
    homepages lose the URI scheme at id%9==0 and use ftp:// on odd ids
    (pattern + nodeKind), ex:knows edges leave even ids only — so every
    even person violates the inverse-path minCount and knowees typed
    Org violate sh:class — and ex:status carries an out-of-vocabulary
    value at id%13==0 (sh:in) with 'active' only at id%3==0
    (sh:hasValue)."""
    from dbpedia_spotlight_spark.operators.shapes import validate_shapes
    e = (_docs(spark, sf_dir)
         .select((F.col("doc_id") % 40).cast("int").alias("id"))
         .dropDuplicates().localCheckpoint(eager=True))
    s_ = lambda c: c.cast("string")  # noqa: E731
    ent = F.concat(F.lit("e"), s_(F.col("id")))
    hp = (F.when(F.col("id") % 9 == 0,
                 F.concat(F.lit("no scheme page "), s_(F.col("id"))))
          .when(F.col("id") % 2 == 0,
                F.concat(F.lit("https://h"), s_(F.col("id")),
                         F.lit(".example/")))
          .otherwise(F.concat(F.lit("ftp://h"), s_(F.col("id")),
                              F.lit(".example/"))))
    st = (F.when(F.col("id") % 13 == 0,
                 F.concat(F.lit("bogus"), s_(F.col("id"))))
          .when(F.col("id") % 3 == 0, F.lit("active"))
          .otherwise(F.lit("dormant")))
    parts = [
        e.select(ent.alias("subj"), F.lit("rdf:type").alias("pred"),
                 F.when(F.col("id") % 4 == 3, "Org")
                 .otherwise("Person").alias("obj")),
        e.filter(F.col("id") % 3 != 0).select(
            ent.alias("subj"), F.lit("foaf:name").alias("pred"),
            F.concat(F.lit("Name "), s_(F.col("id"))).alias("obj")),
        e.filter(F.col("id") % 5 == 1).select(
            ent.alias("subj"), F.lit("foaf:name").alias("pred"),
            F.concat(F.lit("Alias "), s_(F.col("id"))).alias("obj")),
        e.select(ent.alias("subj"), F.lit("ex:homepage").alias("pred"),
                 hp.alias("obj")),
        e.filter(F.col("id") % 2 == 0).select(
            ent.alias("subj"), F.lit("ex:knows").alias("pred"),
            F.concat(F.lit("e"),
                     s_((F.col("id") * 7 + 1) % 40)).alias("obj")),
        e.select(ent.alias("subj"), F.lit("ex:status").alias("pred"),
                 st.alias("obj")),
    ]
    kg = _union_all(parts)
    shapes = [
        {"shape": "PersonShape", "target_class": "Person",
         "constraints": [
             {"path": "foaf:name", "min_count": 1, "max_count": 1},
             {"path": "ex:homepage", "pattern": "^https://",
              "node_kind": "IRI"},
             {"path": "ex:knows", "cls": "Person"},
             {"path": "ex:knows", "inverse": True, "min_count": 1},
         ]},
        {"shape": "StatusShape", "target_subjects_of": "ex:status",
         "constraints": [
             {"path": "ex:status",
              "in_set": ["active", "dormant", "archived"]},
             {"path": "ex:status", "has_value": "active"},
         ]},
    ]
    return validate_shapes(kg, shapes)


def sql_shape_report() -> str:
    """Mirror: regenerate the planted slices as per-predicate CTEs and
    emit each constraint component's violation set directly — the
    anti-joins (sh:class against the typed-Person set, inverse
    minCount against the knowee set) run against the regenerated
    tables, not closed-form id arithmetic, so missing ids at tiny SFs
    stay exact."""
    return """
  WITH e AS (
    SELECT DISTINCT CAST(doc_id % 40 AS INT) AS id FROM documents),
  person AS (SELECT 'e' || id AS focus, id FROM e WHERE id % 4 <> 3),
  nm AS (
    SELECT id, (CASE WHEN id % 3 <> 0 THEN 1 ELSE 0 END)
             + (CASE WHEN id % 5 = 1 THEN 1 ELSE 0 END) AS got FROM e),
  hp AS (
    SELECT id, CASE WHEN id % 9 = 0 THEN 'no scheme page ' || id
                    WHEN id % 2 = 0 THEN 'https://h' || id || '.example/'
                    ELSE 'ftp://h' || id || '.example/' END AS v FROM e),
  knows AS (
    SELECT 'e' || id AS focus, 'e' || ((id * 7 + 1) % 40) AS v,
           (id * 7 + 1) % 40 AS kid
    FROM e WHERE id % 2 = 0),
  known AS (SELECT DISTINCT kid FROM knows),
  status AS (
    SELECT 'e' || id AS focus,
           CASE WHEN id % 13 = 0 THEN 'bogus' || id
                WHEN id % 3 = 0 THEN 'active'
                ELSE 'dormant' END AS v, id
    FROM e)
  SELECT DISTINCT * FROM (
    SELECT 'PersonShape' AS shape, p.focus, 'foaf:name' AS path,
           'minCount' AS component, CAST(NULL AS VARCHAR) AS value,
           CAST(nm.got AS BIGINT) AS got
    FROM person p JOIN nm ON nm.id = p.id WHERE nm.got < 1
    UNION ALL
    SELECT 'PersonShape', p.focus, 'foaf:name', 'maxCount', NULL,
           CAST(nm.got AS BIGINT)
    FROM person p JOIN nm ON nm.id = p.id WHERE nm.got > 1
    UNION ALL
    SELECT 'PersonShape', p.focus, 'ex:homepage', 'pattern', hp.v, NULL
    FROM person p JOIN hp ON hp.id = p.id
    WHERE NOT regexp_matches(hp.v, '^https://')
    UNION ALL
    SELECT 'PersonShape', p.focus, 'ex:homepage', 'nodeKind', hp.v, NULL
    FROM person p JOIN hp ON hp.id = p.id
    WHERE NOT regexp_matches(hp.v, '^[A-Za-z][A-Za-z0-9+.-]*:')
    UNION ALL
    SELECT 'PersonShape', k.focus, 'ex:knows', 'class', k.v, NULL
    FROM knows k
    JOIN person p ON p.focus = k.focus
    LEFT JOIN person t ON t.focus = k.v
    WHERE t.focus IS NULL
    UNION ALL
    SELECT 'PersonShape', p.focus, '^ex:knows', 'minCount', NULL,
           CAST(0 AS BIGINT)
    FROM person p LEFT JOIN known ON known.kid = p.id
    WHERE known.kid IS NULL
    UNION ALL
    SELECT 'StatusShape', s.focus, 'ex:status', 'in', s.v, NULL
    FROM status s WHERE s.v NOT IN ('active', 'dormant', 'archived')
    UNION ALL
    SELECT 'StatusShape', s.focus, 'ex:status', 'hasValue', 'active',
           NULL
    FROM status s WHERE s.v <> 'active'
  )"""


def q_er_sameas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution sameAs discovery (operators/er.py::er_sameas)
    over a KG planted from documents: entity E{id} (id = doc_id % 30)
    with homepage + name; id%3==0 adds a true variant E{id}v (same
    homepage, name one edit away), id%4==0 adds a false sharer E{id}x
    (same homepage, unrelated name), id%6==0 gives E/Ev a second shared
    quasi-key (vatid → the min_shared rule fires with NULL-name audit
    rows impossible here but n_shared=2 visible), and id%5==0 plants an
    over-cap 'country' block that the max_block=4 quadratic guard must
    drop whole."""
    from dbpedia_spotlight_spark.operators.er import er_sameas
    e = (_docs(spark, sf_dir)
         .select((F.col("doc_id") % 30).cast("int").alias("id"))
         .dropDuplicates().localCheckpoint(eager=True))
    s_ = lambda c: c.cast("string")  # noqa: E731
    ent = F.concat(F.lit("E"), s_(F.col("id")))
    hp = F.concat(F.lit("https://e"), s_(F.col("id")), F.lit(".example/"))
    vat = F.concat(F.lit("VAT"), s_(F.col("id")))
    parts = [
        e.select(ent.alias("subj"), F.lit("ex:homepage").alias("pred"),
                 hp.alias("obj")),
        e.filter(F.col("id") % 3 == 0).select(
            F.concat(ent, F.lit("v")).alias("subj"),
            F.lit("ex:homepage").alias("pred"), hp.alias("obj")),
        e.filter(F.col("id") % 4 == 0).select(
            F.concat(ent, F.lit("x")).alias("subj"),
            F.lit("ex:homepage").alias("pred"), hp.alias("obj")),
        e.filter(F.col("id") % 6 == 0).select(
            ent.alias("subj"), F.lit("ex:vatid").alias("pred"),
            vat.alias("obj")),
        e.filter(F.col("id") % 6 == 0).select(
            F.concat(ent, F.lit("v")).alias("subj"),
            F.lit("ex:vatid").alias("pred"), vat.alias("obj")),
        e.filter(F.col("id") % 5 == 0).select(
            ent.alias("subj"), F.lit("ex:country").alias("pred"),
            F.lit("X").alias("obj")),
        e.select(ent.alias("subj"), F.lit("foaf:name").alias("pred"),
                 F.concat(F.lit("Entity "), s_(F.col("id"))).alias("obj")),
        e.filter(F.col("id") % 3 == 0).select(
            F.concat(ent, F.lit("v")).alias("subj"),
            F.lit("foaf:name").alias("pred"),
            F.concat(F.lit("Entity "), s_(F.col("id")),
                     F.lit(".")).alias("obj")),
        e.filter(F.col("id") % 4 == 0).select(
            F.concat(ent, F.lit("x")).alias("subj"),
            F.lit("foaf:name").alias("pred"),
            F.concat(F.lit("Org "), s_(F.col("id")),
                     F.lit(" Holdings")).alias("obj")),
    ]
    kg = _union_all(parts)
    return er_sameas(kg, ["ex:homepage", "ex:vatid", "ex:country"],
                     max_name_dist=1, min_shared=2, max_block=4)


def sql_er_sameas() -> str:
    """Mirror: regenerate the planted KG, block on quasi-keys with the
    same BETWEEN 2 AND 4 block guard, count shared keys per in-block
    pair, take the min Levenshtein across the casefolded name sets
    (every entity here carries ≤1 name, so the engine's max_names slice
    is vacuous), and apply the identical keep rule."""
    return """
  WITH e AS (
    SELECT DISTINCT CAST(doc_id % 30 AS INT) AS id FROM documents),
  kg AS (
    SELECT 'E' || id AS subj, 'ex:homepage' AS pred,
           'https://e' || id || '.example/' AS obj FROM e
    UNION ALL
    SELECT 'E' || id || 'v', 'ex:homepage',
           'https://e' || id || '.example/' FROM e WHERE id % 3 = 0
    UNION ALL
    SELECT 'E' || id || 'x', 'ex:homepage',
           'https://e' || id || '.example/' FROM e WHERE id % 4 = 0
    UNION ALL
    SELECT 'E' || id, 'ex:vatid', 'VAT' || id FROM e WHERE id % 6 = 0
    UNION ALL
    SELECT 'E' || id || 'v', 'ex:vatid', 'VAT' || id
    FROM e WHERE id % 6 = 0
    UNION ALL
    SELECT 'E' || id, 'ex:country', 'X' FROM e WHERE id % 5 = 0
    UNION ALL
    SELECT 'E' || id, 'foaf:name', 'Entity ' || id FROM e
    UNION ALL
    SELECT 'E' || id || 'v', 'foaf:name', 'Entity ' || id || '.'
    FROM e WHERE id % 3 = 0
    UNION ALL
    SELECT 'E' || id || 'x', 'foaf:name', 'Org ' || id || ' Holdings'
    FROM e WHERE id % 4 = 0),
  keyed AS (
    SELECT DISTINCT subj, pred, obj FROM kg
    WHERE pred IN ('ex:homepage', 'ex:vatid', 'ex:country')),
  blocks AS (
    SELECT pred, obj FROM keyed GROUP BY pred, obj
    HAVING count(*) BETWEEN 2 AND 4),
  cand AS (
    SELECT k1.subj AS a, k2.subj AS b, CAST(count(*) AS BIGINT) AS n_shared
    FROM keyed k1
    JOIN keyed k2 ON k1.pred = k2.pred AND k1.obj = k2.obj
                 AND k1.subj < k2.subj
    JOIN blocks bl ON bl.pred = k1.pred AND bl.obj = k1.obj
    GROUP BY 1, 2),
  nm AS (
    SELECT DISTINCT subj, lower(obj) AS name FROM kg
    WHERE pred = 'foaf:name'),
  dist AS (
    SELECT c.a, c.b, c.n_shared,
           CAST(min(levenshtein(na.name, nb.name)) AS INT) AS name_dist
    FROM cand c
    LEFT JOIN nm na ON na.subj = c.a
    LEFT JOIN nm nb ON nb.subj = c.b
    GROUP BY 1, 2, 3)
  SELECT a, b, n_shared, name_dist
  FROM dist WHERE n_shared >= 2 OR name_dist <= 1"""


def q_kg_embed_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-embedding training export (operators/export.py::
    kg_embedding_examples) on a planted all-IRI snapshot: E{doc_id%24}
    —p{id%3}→ E{(id*7+3)%24}. Positives pass through; 3 negatives per
    triple via the md5 head/tail + replacement draw; trivial draws and
    true-triple collisions (filtered setting) drop on both sides."""
    from dbpedia_spotlight_spark.operators.export import (
        kg_embedding_examples)
    e = (_docs(spark, sf_dir)
         .select((F.col("doc_id") % 24).cast("int").alias("id"))
         .dropDuplicates().localCheckpoint(eager=True))
    s_ = lambda c: c.cast("string")  # noqa: E731
    kg = e.select(
        F.concat(F.lit("E"), s_(F.col("id"))).alias("subj"),
        F.concat(F.lit("p"), s_(F.col("id") % 3)).alias("pred"),
        F.concat(F.lit("E"), s_((F.col("id") * 7 + 3) % 24)).alias("obj"))
    return kg_embedding_examples(kg, n_neg=3)


def sql_kg_embed_examples() -> str:
    """Mirror: regenerate the snapshot, dense entity ids by global term
    order (row_number — the engine's bucketed rank is id-identical by
    construction), replay the md5 hex-slice draws with the '0x' BIGINT
    parse, drop trivial draws, anti-join true triples, union with the
    positives."""
    return """
  WITH e AS (
    SELECT DISTINCT CAST(doc_id % 24 AS INT) AS id FROM documents),
  kg AS (
    SELECT 'E' || id AS subj, 'p' || (id % 3) AS pred,
           'E' || ((id * 7 + 3) % 24) AS obj
    FROM e),
  ents AS (
    SELECT term,
           CAST(row_number() OVER (ORDER BY term) - 1 AS INT) AS eid
    FROM (SELECT subj AS term FROM kg
          UNION SELECT obj FROM kg)),
  nn AS (SELECT count(*) AS n FROM ents),
  negraw AS (
    SELECT subj, pred, obj, CAST(u.k AS INT) AS k,
           md5(concat_ws('#', subj, pred, obj, CAST(u.k AS VARCHAR),
                         'kg-embed-v1')) AS h
    FROM kg, UNNEST(range(1, 4)) AS u(k)),
  drawn AS (
    SELECT nr.subj, nr.pred, nr.obj, nr.k,
           CAST(concat('0x', substr(h, 1, 15)) AS BIGINT) % 2 = 0 AS head,
           CAST(CAST(concat('0x', substr(h, 17, 15)) AS BIGINT) % nn.n
                AS INT) AS eid
    FROM negraw nr CROSS JOIN nn),
  neg AS (
    SELECT CASE WHEN head THEN term ELSE d.subj END AS subj, d.pred,
           CASE WHEN head THEN d.obj ELSE term END AS obj,
           0 AS label, d.k
    FROM drawn d JOIN ents ON ents.eid = d.eid
    WHERE CASE WHEN head THEN term <> d.subj ELSE term <> d.obj END),
  negf AS (
    SELECT * FROM neg
    WHERE NOT EXISTS (SELECT 1 FROM kg t
                      WHERE t.subj = neg.subj AND t.pred = neg.pred
                        AND t.obj = neg.obj))
  SELECT subj, pred, obj, 1 AS label, CAST(NULL AS INT) AS k FROM kg
  UNION ALL
  SELECT subj, pred, obj, label, k FROM negf"""


def q_update_migrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 DELETE/INSERT WHERE (operators/ontology.py::
    update_kg): migrate the deprecated ex:oldRef predicate to
    itsrdf:taIdentRef, but ONLY where the target entity is typed Keep —
    oldRef edges to Drop-typed entities must survive untouched, proving
    the WHERE join (not a blanket predicate rename) drives the edit."""
    from dbpedia_spotlight_spark.operators.ontology import update_kg
    e = (_docs(spark, sf_dir)
         .select((F.col("doc_id") % 30).cast("int").alias("id"))
         .dropDuplicates().localCheckpoint(eager=True))
    s_ = lambda c: c.cast("string")  # noqa: E731
    m = F.concat(F.lit("m"), s_(F.col("id")))
    ent = F.concat(F.lit("E"), s_(F.col("id") % 15))
    kg = (
        e.filter(F.col("id") % 2 == 0).select(
            m.alias("subj"), F.lit("ex:oldRef").alias("pred"),
            ent.alias("obj"))
        .unionByName(e.filter(F.col("id") % 2 == 1).select(
            m.alias("subj"), F.lit("itsrdf:taIdentRef").alias("pred"),
            ent.alias("obj")))
        .unionByName(e.select(
            ent.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.when(F.col("id") % 15 < 10, "Keep")
            .otherwise("Drop").alias("obj")).dropDuplicates())
    )
    return update_kg(
        kg, [("?m", "ex:oldRef", "?e"), ("?e", "rdf:type", "Keep")],
        delete=[("?m", "ex:oldRef", "?e")],
        insert=[("?m", "itsrdf:taIdentRef", "?e")])


def sql_update_migrate() -> str:
    """Mirror: solve the WHERE block as one self-join, materialize the
    delete/insert instantiations, then (G ∖ D) ∪ I with set semantics
    (EXCEPT / UNION are distinct in both engines)."""
    return """
  WITH e AS (
    SELECT DISTINCT CAST(doc_id % 30 AS INT) AS id FROM documents),
  kg AS (
    SELECT 'm' || id AS subj, 'ex:oldRef' AS pred,
           'E' || (id % 15) AS obj FROM e WHERE id % 2 = 0
    UNION ALL
    SELECT 'm' || id, 'itsrdf:taIdentRef', 'E' || (id % 15)
    FROM e WHERE id % 2 = 1
    UNION ALL
    SELECT DISTINCT 'E' || (id % 15), 'rdf:type',
           CASE WHEN id % 15 < 10 THEN 'Keep' ELSE 'Drop' END FROM e),
  sols AS (
    SELECT o.subj AS m, o.obj AS ent
    FROM kg o
    JOIN kg t ON t.subj = o.obj AND t.pred = 'rdf:type'
             AND t.obj = 'Keep'
    WHERE o.pred = 'ex:oldRef'),
  d AS (SELECT DISTINCT m AS subj, 'ex:oldRef' AS pred, ent AS obj
        FROM sols),
  i AS (SELECT DISTINCT m AS subj, 'itsrdf:taIdentRef' AS pred,
               ent AS obj
        FROM sols)
  SELECT subj, pred, obj FROM (
    SELECT DISTINCT subj, pred, obj FROM kg
    EXCEPT SELECT subj, pred, obj FROM d)
  UNION
  SELECT subj, pred, obj FROM i"""


def q_sparql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL TEXT front-end (operators/sparql.py::sparql): a pasted
    query string — join + FILTER + GROUP BY aggregates — over a KG
    planted from documents. Exercises the parser→planner dispatch; the
    oracle replays the algebra the text must lower to."""
    from dbpedia_spotlight_spark.operators.sparql import sparql
    e = (_docs(spark, sf_dir)
         .select((F.col("doc_id") % 60).cast("int").alias("id"))
         .dropDuplicates().localCheckpoint(eager=True))
    s_ = lambda c: c.cast("string")  # noqa: E731
    kg = (
        e.select(F.concat(F.lit("m"), s_(F.col("id"))).alias("subj"),
                 F.lit("itsrdf:taIdentRef").alias("pred"),
                 F.concat(F.lit("E"), s_(F.col("id") % 20)).alias("obj"))
        .unionByName(e.select(
            F.concat(F.lit("E"), s_(F.col("id") % 20)).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.concat(F.lit("T"),
                     s_((F.col("id") % 20) % 4)).alias("obj"))
            .dropDuplicates())
    )
    return sparql(kg, """
        SELECT ?t (COUNT(*) AS ?n_links)
               (COUNT(DISTINCT ?e) AS ?n_entities) WHERE {
          ?m itsrdf:taIdentRef ?e .
          ?e a ?t .
          FILTER(?t != 'T0')
        } GROUP BY ?t ORDER BY ?t""")


def sql_sparql_text() -> str:
    """Mirror: the relational algebra the query text lowers to —
    link × type equi-join, the != filter, two-aggregate GROUP BY."""
    return """
  WITH e AS (
    SELECT DISTINCT CAST(doc_id % 60 AS INT) AS id FROM documents),
  links AS (
    SELECT 'm' || id AS m, 'E' || (id % 20) AS ent FROM e),
  types AS (
    SELECT DISTINCT 'E' || (id % 20) AS ent,
           'T' || ((id % 20) % 4) AS t FROM e)
  SELECT types.t, CAST(count(*) AS BIGINT) AS n_links,
         CAST(count(DISTINCT links.ent) AS BIGINT) AS n_entities
  FROM links JOIN types ON types.ent = links.ent
  WHERE types.t <> 'T0'
  GROUP BY types.t
  ORDER BY types.t"""


def q_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction eval metrics (operators/ranking.py::
    ranking_metrics) on a planted candidate pool: 25 queries × ≤8
    candidates each, scores drawn from md5 hex slices (replayable both
    engines), positive = candidate index 3. Ranks come from
    higher/tied counts (no window, no sort) with the mean tie rule."""
    from dbpedia_spotlight_spark.operators.ranking import ranking_metrics
    ids = (_docs(spark, sf_dir)
           .select((F.col("doc_id") % 200).cast("int").alias("id"))
           .dropDuplicates().localCheckpoint(eager=True))
    idx = F.floor(F.col("id") / 25).cast("int")
    h = F.conv(F.substring(
        F.md5(F.concat_ws("#", F.lit("s"),
                          F.col("id").cast("string"))), 1, 15),
        16, 10).cast("long")
    pool = ids.select(
        F.concat(F.lit("q"), (F.col("id") % 25).cast("string"))
        .alias("qid"),
        F.concat(F.lit("c"), idx.cast("string")).alias("cand"),
        (h % 1000 / 100.0).alias("score"),
        (idx == 3).alias("is_positive"))
    return ranking_metrics(pool, ks=(1, 3))


def sql_ranking_eval() -> str:
    """Mirror: same planted pool (md5 '0x' BIGINT parse), higher/tied
    counts per positive, mean-tie rank, one global rollup at 9dp."""
    return """
  WITH ids AS (
    SELECT DISTINCT CAST(doc_id % 200 AS INT) AS id FROM documents),
  pool AS (
    SELECT 'q' || (id % 25) AS qid, 'c' || (id // 25) AS cand,
           CAST(CAST(concat('0x', substr(
             md5(concat_ws('#', 's', CAST(id AS VARCHAR))), 1, 15))
             AS BIGINT) % 1000 AS DOUBLE) / 100.0 AS score,
           (id // 25) = 3 AS is_positive
    FROM ids),
  pos AS (SELECT qid, cand, score AS pos_s FROM pool
          WHERE is_positive),
  counted AS (
    SELECT p.qid, pos.cand, pos.pos_s,
           sum(CASE WHEN p.score > pos.pos_s THEN 1 ELSE 0 END)
             AS n_higher,
           sum(CASE WHEN p.score = pos.pos_s THEN 1 ELSE 0 END)
             AS n_tied
    FROM pool p JOIN pos ON pos.qid = p.qid
    GROUP BY 1, 2, 3),
  ranks AS (
    SELECT n_higher + 1 + (n_tied - 1) / 2.0 AS rank FROM counted)
  SELECT CAST(count(*) AS BIGINT) AS n_queries,
         round(avg(1.0 / rank), 9) AS mrr,
         round(avg(rank), 9) AS mean_rank,
         round(avg(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 9)
           AS hits_at_1,
         round(avg(CASE WHEN rank <= 3 THEN 1.0 ELSE 0.0 END), 9)
           AS hits_at_3
  FROM ranks"""


def q_owl_entail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL-RL property-axiom + rdfs:5/7 entailment (operators/
    ontology.py::infer_property_axioms / infer_subproperties) over a KG
    planted from documents: per 8-id lane, a 4-node ancestorOf CYCLE
    (transitive closure incl. the self-loops prp-trp entails on
    cycles), a symmetric adjacentTo edge, an inverse parentOf/childOf
    pair in both assertion directions, and a relatedTo statement lifted
    through the parentOf ⊑ relatedTo ⊑ linkedTo hierarchy."""
    from dbpedia_spotlight_spark.operators.ontology import (
        infer_property_axioms, infer_subproperties)
    e = (_docs(spark, sf_dir)
         .select((F.col("doc_id") % 40).cast("int").alias("id"))
         .dropDuplicates().localCheckpoint(eager=True))
    s_ = lambda c: c.cast("string")  # noqa: E731
    n = lambda c: F.concat(F.lit("n"), s_(c))  # noqa: E731
    lane = F.col("id") % 8
    kg = (
        e.filter(lane < 3).select(
            n(F.col("id")).alias("subj"),
            F.lit("ex:ancestorOf").alias("pred"),
            n(F.col("id") + 1).alias("obj"))
        .unionByName(e.filter(lane == 3).select(
            n(F.col("id")).alias("subj"),
            F.lit("ex:ancestorOf").alias("pred"),
            n(F.col("id") - 3).alias("obj")))
        .unionByName(e.filter(lane == 4).select(
            n(F.col("id")).alias("subj"),
            F.lit("ex:adjacentTo").alias("pred"),
            n(F.col("id") + 1).alias("obj")))
        .unionByName(e.filter(lane == 5).select(
            F.concat(F.lit("p"), s_(F.col("id"))).alias("subj"),
            F.lit("ex:parentOf").alias("pred"),
            F.concat(F.lit("q"), s_(F.col("id"))).alias("obj")))
        .unionByName(e.filter(lane == 6).select(
            F.concat(F.lit("q"), s_(F.col("id"))).alias("subj"),
            F.lit("ex:childOf").alias("pred"),
            F.concat(F.lit("p"), s_(F.col("id"))).alias("obj")))
        .unionByName(e.filter(lane == 7).select(
            F.concat(F.lit("r"), s_(F.col("id"))).alias("subj"),
            F.lit("ex:relatedTo").alias("pred"),
            F.concat(F.lit("s"), s_(F.col("id"))).alias("obj")))
        .localCheckpoint(eager=True)  # the closure loop runs one
        # action per round — never re-derive the planted frame
    )
    sub = spark.createDataFrame(
        [("ex:parentOf", "ex:relatedTo"), ("ex:relatedTo", "ex:linkedTo")],
        "sub string, sup string")
    inv = spark.createDataFrame([("ex:parentOf", "ex:childOf")],
                                "pred string, inv string")
    return (
        # anti-join the lifted statements against the asserted kg so the
        # Spark side is STRUCTURALLY 'derived minus asserted' (matching
        # sql_owl_entail, which anti-joins ALL derived rows) — not just
        # coincidentally equal because the planted lanes use disjoint
        # subject prefixes
        infer_subproperties(kg, sub)
        .join(kg, ["subj", "pred", "obj"], "left_anti")
        .unionByName(infer_property_axioms(
            kg, inverses=inv, symmetric=["ex:adjacentTo"],
            transitive=["ex:ancestorOf"]))
        .dropDuplicates()
    )


def sql_owl_entail() -> str:
    """Mirror: the planted KG regenerated lane-by-lane; rdfs:7 lift and
    the inverse/symmetric swaps as projections; the ancestorOf closure
    as four unrolled join rounds (the planted cycles have diameter 4,
    and round 4 yields exactly the prp-trp self-loops), minus the
    asserted edges."""
    return """
  WITH e AS (
    SELECT DISTINCT CAST(doc_id % 40 AS INT) AS id FROM documents),
  kg AS (
    SELECT 'n' || id AS subj, 'ex:ancestorOf' AS pred,
           'n' || (id + 1) AS obj FROM e WHERE id % 8 < 3
    UNION ALL
    SELECT 'n' || id, 'ex:ancestorOf', 'n' || (id - 3)
    FROM e WHERE id % 8 = 3
    UNION ALL
    SELECT 'n' || id, 'ex:adjacentTo', 'n' || (id + 1)
    FROM e WHERE id % 8 = 4
    UNION ALL
    SELECT 'p' || id, 'ex:parentOf', 'q' || id FROM e WHERE id % 8 = 5
    UNION ALL
    SELECT 'q' || id, 'ex:childOf', 'p' || id FROM e WHERE id % 8 = 6
    UNION ALL
    SELECT 'r' || id, 'ex:relatedTo', 's' || id FROM e WHERE id % 8 = 7),
  anc AS (SELECT subj AS s, obj AS o FROM kg
          WHERE pred = 'ex:ancestorOf'),
  c2 AS (SELECT DISTINCT a.s, b.o FROM anc a JOIN anc b ON b.s = a.o),
  c3 AS (SELECT DISTINCT a.s, b.o FROM c2 a JOIN anc b ON b.s = a.o),
  c4 AS (SELECT DISTINCT a.s, b.o FROM c3 a JOIN anc b ON b.s = a.o),
  clo AS (SELECT s, o FROM anc UNION SELECT s, o FROM c2
          UNION SELECT s, o FROM c3 UNION SELECT s, o FROM c4),
  derived AS (
    SELECT subj, 'ex:relatedTo' AS pred, obj FROM kg
    WHERE pred = 'ex:parentOf'
    UNION
    SELECT subj, 'ex:linkedTo', obj FROM kg
    WHERE pred IN ('ex:parentOf', 'ex:relatedTo')
    UNION
    SELECT obj, 'ex:childOf', subj FROM kg WHERE pred = 'ex:parentOf'
    UNION
    SELECT obj, 'ex:parentOf', subj FROM kg WHERE pred = 'ex:childOf'
    UNION
    SELECT obj, 'ex:adjacentTo', subj FROM kg
    WHERE pred = 'ex:adjacentTo'
    UNION
    SELECT s, 'ex:ancestorOf', o FROM clo)
  SELECT d.subj, d.pred, d.obj FROM derived d
  WHERE NOT EXISTS (
    SELECT 1 FROM kg
    WHERE kg.subj = d.subj AND kg.pred = d.pred AND kg.obj = d.obj)"""


def q_graph_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL named-graph (quad) querying (operators/ontology.py quad
    patterns + operators/sparql.py GRAPH clause) over a provenance quad
    store planted from documents: links live in per-page graphs
    ('u{id}'), types in a shared schema graph. The query counts, per
    entity of type T1, the DISTINCT asserting pages — the 'how many
    independent sources claim this link' provenance question a KG
    consumer actually asks."""
    from dbpedia_spotlight_spark.operators.sparql import sparql
    e = (_docs(spark, sf_dir)
         .select((F.col("doc_id") % 48).cast("int").alias("id"))
         .dropDuplicates().localCheckpoint(eager=True))
    s_ = lambda c: c.cast("string")  # noqa: E731
    kg = (
        e.select(F.concat(F.lit("m"), s_(F.col("id"))).alias("subj"),
                 F.lit("itsrdf:taIdentRef").alias("pred"),
                 F.concat(F.lit("E"), s_(F.col("id") % 12)).alias("obj"),
                 F.concat(F.lit("u"), s_(F.col("id") % 7)).alias("graph"))
        .unionByName(e.select(
            F.concat(F.lit("E"), s_(F.col("id") % 12)).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.concat(F.lit("T"), s_((F.col("id") % 12) % 3)).alias("obj"),
            F.lit("schema").alias("graph")).dropDuplicates())
    )
    return sparql(kg, """
        SELECT ?e (COUNT(DISTINCT ?g) AS ?n_sources) WHERE {
          GRAPH ?g { ?m itsrdf:taIdentRef ?e }
          ?e a T1 .
        } GROUP BY ?e""")


def sql_graph_provenance() -> str:
    """Mirror: the quad store regenerated, graph equality as a plain
    column predicate, COUNT DISTINCT over the asserting graphs."""
    return """
  WITH e AS (
    SELECT DISTINCT CAST(doc_id % 48 AS INT) AS id FROM documents),
  quads AS (
    SELECT 'm' || id AS subj, 'itsrdf:taIdentRef' AS pred,
           'E' || (id % 12) AS obj, 'u' || (id % 7) AS graph FROM e
    UNION ALL
    SELECT DISTINCT 'E' || (id % 12), 'rdf:type',
           'T' || ((id % 12) % 3), 'schema' FROM e),
  links AS (SELECT subj, obj, graph FROM quads
            WHERE pred = 'itsrdf:taIdentRef'),
  t1 AS (SELECT DISTINCT subj AS ent FROM quads
         WHERE pred = 'rdf:type' AND obj = 'T1')
  SELECT l.obj AS e, CAST(count(DISTINCT l.graph) AS BIGINT)
           AS n_sources
  FROM links l JOIN t1 ON t1.ent = l.obj
  GROUP BY l.obj"""


def q_entity_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-graph provenance over the REAL pipeline output (not a
    planted fixture): the emitted link triples become a quad store via
    ``triples.as_quads`` (graph = the asserting page, recovered from
    the NIF subj fragment), then a GRAPH-clause text query counts the
    distinct pages asserting each entity — the 'how many independent
    sources' question, end-to-end through annotate → quads → SPARQL."""
    from dbpedia_spotlight_spark.operators.sparql import sparql
    from dbpedia_spotlight_spark.triples import as_quads
    ann = q_annotate_prior(spark, sf_dir).join(
        F.broadcast(_docs(spark, sf_dir).select("doc_id", "source")),
        "doc_id")
    trip = ann.select(
        F.concat_ws(
            "", F.col("source"), F.lit("/"), F.col("doc_id"),
            F.lit("#char="), F.col("begin"), F.lit(","), F.col("end"),
        ).alias("subj"),
        F.lit("itsrdf:taIdentRef").alias("pred"),
        F.col("uri").alias("obj"),
    ).dropDuplicates()
    return sparql(as_quads(trip), """
        SELECT ?e (COUNT(DISTINCT ?g) AS ?n_pages) WHERE {
          GRAPH ?g { ?m itsrdf:taIdentRef ?e }
        } GROUP BY ?e""")


def q_mention_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open relation extraction over the REAL pipeline output
    (operators/relations.py): adjacent disambiguated mentions
    (annotate_prior — the relational D8 slice) pair up, the normalized
    token span between them becomes the candidate predicate surface
    (gap ≤ 80 chars, ≤ 4 tokens, no sentence punctuation, distinct
    endpoints), counted as (n, n_docs). The oracle replays the whole
    chain — annotate CTEs, adjacency via row_number, substr slicing,
    normalization, gates, two-level counts — relationally."""
    from dbpedia_spotlight_spark.operators.relations import (
        extract_relations,
    )
    m = q_annotate_prior(spark, sf_dir).select(
        "doc_id", "begin", "end", "uri")
    return extract_relations(m, _docs(spark, sf_dir))


# per-doc relation-occurrence chain (ms → ordered → pairs → mid → ok),
# shared by every relation oracle so the extraction gates (gap 80,
# ≤ 4 tokens, sentence-punctuation class) live in exactly ONE SQL copy
# mirroring the operators/relations.py defaults
_SQL_REL_OK = """
  ms AS (
    SELECT doc_id, "begin", "end", uri FROM ranked WHERE rank = 1),
  ordered AS (
    SELECT doc_id, "begin", "end", uri,
           row_number() OVER (PARTITION BY doc_id ORDER BY "begin")
             AS rn
    FROM ms),
  pairs AS (
    SELECT a.doc_id, a."end" AS ae, b."begin" AS bb,
           a.uri AS s, b.uri AS o
    FROM ordered a JOIN ordered b
      ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
    WHERE b."begin" - a."end" > 0 AND b."begin" - a."end" <= 80
      AND a.uri <> b.uri),
  mid AS (
    SELECT p.s, p.o, p.doc_id,
           regexp_replace(trim(lower(substr(d.text, p.ae + 1,
                                            p.bb - p.ae))),
                          '\\s+', ' ', 'g') AS pred
    FROM pairs p JOIN documents d ON p.doc_id = d.doc_id),
  ok AS (
    SELECT * FROM mid
    WHERE pred <> '' AND NOT regexp_matches(pred, '[.!?;:]')
      AND len(string_split(pred, ' ')) <= 4)"""


def sql_mention_relations() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + "," + _SQL_REL_OK + """
  SELECT s AS subj_uri, pred AS predicate, o AS obj_uri,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM ok GROUP BY 1, 2, 3"""
    )


def q_relation_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation schema induction (operators/relations.py::
    relation_signatures): the mention_relations table lifted to entity-
    TYPE signatures via the fixture's ENTITY_TYPES (untyped → Thing),
    counts summed per (subj_type, predicate, obj_type). The oracle
    replays the whole mention_relations chain in a subquery plus the
    same VALUES type table and double LEFT JOIN."""
    from dbpedia_spotlight_spark.lexicon_static import DBP, ENTITY_TYPES
    from dbpedia_spotlight_spark.operators.relations import (
        relation_signatures,
    )
    rel = q_mention_relations(spark, sf_dir)
    rows = [(DBP + u, t) for u, ts in sorted(ENTITY_TYPES.items())
            for t in ts]
    types = spark.createDataFrame(rows, "uri string, type string")
    return relation_signatures(rel, types)


def sql_relation_signatures() -> str:
    from dbpedia_spotlight_spark.lexicon_static import DBP, ENTITY_TYPES
    vals = ",\n      ".join(
        f"('{DBP + u}', '{t}')"
        for u, ts in sorted(ENTITY_TYPES.items()) for t in ts)
    return f"""
  WITH rels AS ({sql_mention_relations()}),
  ty AS (SELECT * FROM (VALUES
      {vals}) AS t(uri, type))
  SELECT COALESCE(st.type, 'Thing') AS subj_type,
         r.predicate,
         COALESCE(ot.type, 'Thing') AS obj_type,
         CAST(sum(r.n) AS BIGINT) AS n,
         CAST(sum(r.n_docs) AS BIGINT) AS n_docs
  FROM rels r LEFT JOIN ty st ON r.subj_uri = st.uri
              LEFT JOIN ty ot ON r.obj_uri = ot.uri
  GROUP BY 1, 2, 3"""


def q_canonical_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs canonicalization of the relation table
    (operators/relations.py::canonicalize_relations): per-doc relation
    occurrences have both endpoint URIs rewritten to their alias
    class's canonical (min) member, collapsed self-pairs dropped, then
    rolled up with EXACT n_docs. The alias classes here are a
    deterministic synthetic rule both engines compute relationally —
    entities sharing a URI stem after stripping the parenthetical
    sense qualifier (Table_(database) ≡ Table_(furniture)) — which
    exercises exactly the merge/collapse/dedup math the real sameAs
    map drives in production."""
    from dbpedia_spotlight_spark.operators.relations import (
        canonicalize_relations,
        doc_relation_occurrences,
        rollup_relations,
    )
    m = q_annotate_prior(spark, sf_dir).select(
        "doc_id", "begin", "end", "uri")
    doc_rel = doc_relation_occurrences(m, _docs(spark, sf_dir))
    ents = (doc_rel.select(F.col("subj_uri").alias("id"))
            .unionByName(doc_rel.select(F.col("obj_uri").alias("id")))
            .distinct())
    stems = ents.withColumn(
        "stem", F.regexp_replace("id", r"\([^)]*\)$", ""))
    comp = stems.groupBy("stem").agg(F.min("id").alias("comp"))
    labels = stems.join(comp, "stem").select("id", "comp")
    return rollup_relations(canonicalize_relations(doc_rel, labels)) \
        .select("subj_uri", "predicate", "obj_uri", "n", "n_docs")


def sql_canonical_relations() -> str:
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + "," + _SQL_REL_OK + """,
  ents AS (
    SELECT DISTINCT s AS id FROM ok
    UNION SELECT DISTINCT o AS id FROM ok),
  canon AS (
    SELECT id, min(id) OVER (
        PARTITION BY regexp_replace(id, '\\([^)]*\\)$', '')) AS comp
    FROM ents),
  rw AS (
    SELECT cs.comp AS s, ok.pred, co.comp AS o, ok.doc_id
    FROM ok JOIN canon cs ON ok.s = cs.id
            JOIN canon co ON ok.o = co.id)
  SELECT s AS subj_uri, pred AS predicate, o AS obj_uri,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM rw WHERE s <> o GROUP BY 1, 2, 3"""
    )


def q_sameas_functional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL-RL prp-fp / prp-ifp identity inference
    (operators/ontology.py::infer_functional_sameas) over planted
    functional-property lanes derived arithmetically from the documents
    table (so both engines construct the identical KG): an IFP key
    shared by blocks of 4 docs, a FunctionalProperty with blocks of 8
    values per subject, and a dirty IFP value shared by EVERY doc that
    the max_group=16 guard must exclude whole (non-vacuous cap)."""
    from dbpedia_spotlight_spark.operators.ontology import (
        infer_functional_sameas,
    )
    d = _docs(spark, sf_dir).select("doc_id")
    sid = F.col("doc_id").cast("string")
    ifp = d.select(
        F.concat(F.lit("e"), sid).alias("subj"),
        F.lit("ex:key").alias("pred"),
        F.concat(F.lit("k"), (F.col("doc_id") / 4).cast("long")
                 .cast("string")).alias("obj"))
    dirty = d.select(
        F.concat(F.lit("d"), sid).alias("subj"),
        F.lit("ex:key").alias("pred"), F.lit("dirty").alias("obj"))
    fp = d.select(
        F.concat(F.lit("s"), (F.col("doc_id") / 8).cast("long")
                 .cast("string")).alias("subj"),
        F.lit("ex:parent").alias("pred"),
        F.concat(F.lit("p"), sid).alias("obj"))
    kg = ifp.unionByName(dirty).unionByName(fp)
    return infer_functional_sameas(
        kg, functional=["ex:parent"], inverse_functional=["ex:key"],
        max_group=16)


def sql_sameas_functional() -> str:
    return """
  WITH d AS (SELECT doc_id FROM documents),
  kg AS (
    SELECT 'e' || CAST(doc_id AS VARCHAR) AS subj, 'ex:key' AS pred,
           'k' || CAST(doc_id // 4 AS VARCHAR) AS obj FROM d
    UNION ALL
    SELECT 'd' || CAST(doc_id AS VARCHAR), 'ex:key', 'dirty' FROM d
    UNION ALL
    SELECT 's' || CAST(doc_id // 8 AS VARCHAR), 'ex:parent',
           'p' || CAST(doc_id AS VARCHAR) FROM d),
  ifp AS (SELECT DISTINCT pred, obj AS k, subj AS v FROM kg
          WHERE pred = 'ex:key'),
  ifp_ok AS (SELECT pred, k FROM ifp GROUP BY 1, 2
             HAVING count(*) BETWEEN 2 AND 16),
  ifp_s AS (SELECT i.* FROM ifp i
            JOIN ifp_ok o ON i.pred = o.pred AND i.k = o.k),
  fp AS (SELECT DISTINCT pred, subj AS k, obj AS v FROM kg
         WHERE pred = 'ex:parent'),
  fp_ok AS (SELECT pred, k FROM fp GROUP BY 1, 2
            HAVING count(*) BETWEEN 2 AND 16),
  fp_s AS (SELECT f.* FROM fp f
           JOIN fp_ok o ON f.pred = o.pred AND f.k = o.k)
  SELECT DISTINCT a, b, via, rule FROM (
    SELECT x.v AS a, y.v AS b, x.pred AS via, 'prp-ifp' AS rule
    FROM ifp_s x JOIN ifp_s y
      ON x.pred = y.pred AND x.k = y.k AND x.v < y.v
    UNION ALL
    SELECT x.v, y.v, x.pred, 'prp-fp'
    FROM fp_s x JOIN fp_s y
      ON x.pred = y.pred AND x.k = y.k AND x.v < y.v)"""


def q_owl_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL 2 RL consistency checking (operators/ontology.py::
    validate_owl) over a KG planted arithmetically from documents —
    per 10-doc lane: a cax-dw double-typing, a prp-pdw parallel-edge
    pair, a prp-irp self-loop, a prp-asyp mutual pair, and an eq-diff1
    sameAs/differentFrom contradiction, each with an adjacent CLEAN
    lane the rules must not fire on."""
    from dbpedia_spotlight_spark.operators.ontology import validate_owl
    d = _docs(spark, sf_dir).select("doc_id")
    sid = F.col("doc_id").cast("string")
    lane = F.col("doc_id") % 10
    def _e(m, s_pre, pred, o_pre):  # noqa: E306
        return d.filter(lane == m).select(
            F.concat(F.lit(s_pre), sid).alias("subj"),
            F.lit(pred).alias("pred"),
            F.concat(F.lit(o_pre), sid).alias("obj"))
    kg = (
        # cax-dw lane 0 (clash) / lane 1 (clean)
        d.filter(lane == 0).select(
            F.concat(F.lit("x"), sid).alias("subj"),
            F.lit("rdf:type").alias("pred"), F.lit("Person").alias("obj"))
        .unionByName(d.filter(lane == 0).select(
            F.concat(F.lit("x"), sid).alias("subj"),
            F.lit("rdf:type").alias("pred"), F.lit("Place").alias("obj")))
        .unionByName(d.filter(lane == 1).select(
            F.concat(F.lit("x"), sid).alias("subj"),
            F.lit("rdf:type").alias("pred"), F.lit("Person").alias("obj")))
        # prp-pdw lane 2 (clash) / lane 3 (clean)
        .unionByName(_e(2, "u", "ex:likes", "v"))
        .unionByName(_e(2, "u", "ex:dislikes", "v"))
        .unionByName(_e(3, "u", "ex:likes", "v"))
        # prp-irp lane 4 (self-loop) / lane 5 (clean)
        .unionByName(_e(4, "p", "ex:properPartOf", "p"))
        .unionByName(_e(5, "p", "ex:properPartOf", "r"))
        # prp-asyp lane 6 (mutual) / lane 7 (clean)
        .unionByName(_e(6, "a", "ex:beats", "b"))
        .unionByName(_e(6, "b", "ex:beats", "a"))
        .unionByName(_e(7, "a", "ex:beats", "c"))
        # eq-diff1 lane 8 (contradiction, opposite orientations) /
        # lane 9 (clean)
        .unionByName(_e(8, "m", "owl:sameAs", "n"))
        .unionByName(_e(8, "n", "owl:differentFrom", "m"))
        .unionByName(_e(9, "m", "owl:sameAs", "z"))
    )
    return validate_owl(
        kg,
        disjoint_classes=spark.createDataFrame(
            [("Place", "Person")], "a string, b string"),
        disjoint_properties=spark.createDataFrame(
            [("ex:likes", "ex:dislikes")], "a string, b string"),
        irreflexive=["ex:properPartOf"],
        asymmetric=["ex:beats"],
        check_different=True)


def sql_owl_violations() -> str:
    """Mirror: the planted KG regenerated lane-by-lane, then each rule
    replayed relationally (canonical least/greatest orientations match
    validate_owl's layout-independent report shape)."""
    return """
  WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid,
                    doc_id % 10 AS lane FROM documents),
  kg AS (
    SELECT 'x' || sid AS subj, 'rdf:type' AS pred, 'Person' AS obj
      FROM d WHERE lane = 0
    UNION ALL SELECT 'x' || sid, 'rdf:type', 'Place' FROM d WHERE lane = 0
    UNION ALL SELECT 'x' || sid, 'rdf:type', 'Person' FROM d WHERE lane = 1
    UNION ALL SELECT 'u' || sid, 'ex:likes', 'v' || sid FROM d WHERE lane = 2
    UNION ALL SELECT 'u' || sid, 'ex:dislikes', 'v' || sid
      FROM d WHERE lane = 2
    UNION ALL SELECT 'u' || sid, 'ex:likes', 'v' || sid FROM d WHERE lane = 3
    UNION ALL SELECT 'p' || sid, 'ex:properPartOf', 'p' || sid
      FROM d WHERE lane = 4
    UNION ALL SELECT 'p' || sid, 'ex:properPartOf', 'r' || sid
      FROM d WHERE lane = 5
    UNION ALL SELECT 'a' || sid, 'ex:beats', 'b' || sid FROM d WHERE lane = 6
    UNION ALL SELECT 'b' || sid, 'ex:beats', 'a' || sid FROM d WHERE lane = 6
    UNION ALL SELECT 'a' || sid, 'ex:beats', 'c' || sid FROM d WHERE lane = 7
    UNION ALL SELECT 'm' || sid, 'owl:sameAs', 'n' || sid
      FROM d WHERE lane = 8
    UNION ALL SELECT 'n' || sid, 'owl:differentFrom', 'm' || sid
      FROM d WHERE lane = 8
    UNION ALL SELECT 'm' || sid, 'owl:sameAs', 'z' || sid
      FROM d WHERE lane = 9),
  dc AS (SELECT least(a, b) AS a, greatest(a, b) AS b
         FROM (VALUES ('Place', 'Person')) v(a, b)),
  dp AS (SELECT least(a, b) AS a, greatest(a, b) AS b
         FROM (VALUES ('ex:likes', 'ex:dislikes')) v(a, b)),
  t AS (SELECT DISTINCT subj, obj AS cls FROM kg WHERE pred = 'rdf:type'),
  caxdw AS (
    SELECT 'cax-dw' AS rule, t1.subj AS s, '' AS o, dc.a, dc.b
    FROM t t1 JOIN dc ON t1.cls = dc.a
    JOIN t t2 ON t2.subj = t1.subj AND t2.cls = dc.b),
  e AS (SELECT DISTINCT subj, pred, obj FROM kg),
  pdw AS (
    SELECT 'prp-pdw' AS rule, e1.subj AS s, e1.obj AS o, dp.a, dp.b
    FROM e e1 JOIN dp ON e1.pred = dp.a
    JOIN e e2 ON e2.subj = e1.subj AND e2.obj = e1.obj
            AND e2.pred = dp.b),
  irp AS (
    SELECT DISTINCT 'prp-irp' AS rule, subj AS s, obj AS o,
           pred AS a, '' AS b
    FROM kg WHERE pred IN ('ex:properPartOf') AND subj = obj),
  asyp AS (
    SELECT 'prp-asyp' AS rule, e1.subj AS s, e1.obj AS o,
           e1.pred AS a, '' AS b
    FROM e e1 JOIN e e2 ON e1.pred = e2.pred AND e1.subj = e2.obj
                       AND e1.obj = e2.subj
    WHERE e1.pred IN ('ex:beats') AND e1.subj <= e1.obj),
  sa AS (SELECT DISTINCT least(subj, obj) AS s, greatest(subj, obj) AS o
         FROM kg WHERE pred = 'owl:sameAs' AND subj <> obj),
  df AS (SELECT DISTINCT least(subj, obj) AS s, greatest(subj, obj) AS o
         FROM kg WHERE pred = 'owl:differentFrom' AND subj <> obj),
  eqdiff AS (
    SELECT 'eq-diff1' AS rule, sa.s, sa.o,
           'owl:sameAs' AS a, 'owl:differentFrom' AS b
    FROM sa JOIN df ON sa.s = df.s AND sa.o = df.o)
  SELECT DISTINCT * FROM (
    SELECT * FROM caxdw UNION ALL SELECT * FROM pdw
    UNION ALL SELECT * FROM irp UNION ALL SELECT * FROM asyp
    UNION ALL SELECT * FROM eqdiff)"""


def q_fact_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal fact versioning (triples.py::fact_intervals) over a
    change log planted arithmetically from documents — per 4-doc lane:
    a live fact, a closed episode, a removed-then-re-added fact (two
    episodes: one closed, one live), and a late-added live fact."""
    from dbpedia_spotlight_spark.triples import fact_intervals
    d = _docs(spark, sf_dir).select("doc_id")
    sid = F.col("doc_id").cast("string")
    lane = F.col("doc_id") % 4
    def _ev(cond, gen, change):  # noqa: E306
        return d.filter(cond).select(
            F.concat(F.lit("h"), sid).alias("url"),
            F.concat(F.lit("h"), sid, F.lit("#f")).alias("subj"),
            F.lit("p").alias("pred"), F.lit("o").alias("obj"),
            F.lit(change).alias("change"),
            F.lit(gen).cast("long").alias("gen"))
    log = (_ev(lane < 3, 1, "added")
           .unionByName(_ev(lane == 1, 3, "removed"))
           .unionByName(_ev(lane == 2, 2, "removed"))
           .unionByName(_ev(lane == 2, 4, "added"))
           .unionByName(_ev(lane == 3, 2, "added")))
    return fact_intervals(log)


def sql_fact_episodes() -> str:
    """Mirror: the planted log regenerated lane-by-lane, the episode
    fold replayed as the same lead()-over-fact-key window."""
    return """
  WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid,
                    doc_id % 4 AS lane FROM documents),
  log AS (
    SELECT 'h' || sid AS url, 'h' || sid || '#f' AS subj, 'p' AS pred,
           'o' AS obj, 'added' AS change, CAST(1 AS BIGINT) AS gen
      FROM d WHERE lane < 3
    UNION ALL SELECT 'h' || sid, 'h' || sid || '#f', 'p', 'o',
           'removed', 3 FROM d WHERE lane = 1
    UNION ALL SELECT 'h' || sid, 'h' || sid || '#f', 'p', 'o',
           'removed', 2 FROM d WHERE lane = 2
    UNION ALL SELECT 'h' || sid, 'h' || sid || '#f', 'p', 'o',
           'added', 4 FROM d WHERE lane = 2
    UNION ALL SELECT 'h' || sid, 'h' || sid || '#f', 'p', 'o',
           'added', 2 FROM d WHERE lane = 3),
  ev AS (
    SELECT url, subj, pred, obj, change, gen,
           lead(gen) OVER (PARTITION BY url, subj, pred, obj
                           ORDER BY gen) AS next_gen
    FROM log)
  SELECT url, subj, pred, obj, gen AS valid_from, next_gen AS valid_to
  FROM ev WHERE change = 'added'"""


def q_fact_allen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval algebra over fact episodes (triples.py::
    allen_relations): planted per-document episode sets cycling all 7
    canonical relations (doc_id%7 picks B's interval against the fixed
    A=[0,10); lane 0's B is LIVE so the +∞ convention is on the hash
    path; every 5th doc adds a live C=[20,∞) episode for multi-pair
    groups). The oracle replays the canonical-order pair expansion as
    a row-comparison self-join + the same CASE ladder."""
    from dbpedia_spotlight_spark.triples import allen_relations
    d = _docs(spark, sf_dir).select("doc_id")
    sid = F.col("doc_id").cast("string")
    lane = F.col("doc_id") % 7
    nl = F.lit(None).cast("long")
    b_from = (F.when(lane == 0, 12).when(lane == 1, 10)
              .when(lane == 2, 5).when(lane == 3, 0)
              .when(lane == 4, 2).when(lane == 5, 4)
              .otherwise(0).cast("long"))
    b_to = (F.when(lane == 0, nl).when(lane == 1, 14)
            .when(lane == 2, 14).when(lane == 3, 6)
            .when(lane == 4, 8).when(lane == 5, 10)
            .otherwise(10).cast("long"))
    ep = lambda o, f, t: F.struct(  # noqa: E731
        F.lit(o).alias("obj") if isinstance(o, str) else o.alias("obj"),
        f.alias("valid_from") if hasattr(f, "alias")
        else F.lit(f).cast("long").alias("valid_from"),
        t.alias("valid_to") if hasattr(t, "alias")
        else F.lit(t).cast("long").alias("valid_to"))
    eps = F.filter(F.array(
        ep("v1", F.lit(0).cast("long"), F.lit(10).cast("long")),
        ep("v2", b_from, b_to),
        F.when(F.col("doc_id") % 5 == 0,
               ep("v3", F.lit(20).cast("long"), nl)),
    ), lambda e: e.isNotNull())
    iv = (d.select(F.concat(F.lit("s"), sid).alias("subj"),
                   F.explode(eps).alias("e"))
          .select("subj", F.lit("u").alias("url"),
                  F.lit("p").alias("pred"), "e.obj",
                  "e.valid_from", "e.valid_to"))
    return allen_relations(iv).orderBy("subj", "obj_a", "obj_b")


def sql_fact_allen() -> str:
    """Mirror: the planted lanes regenerated, canonical ordering via
    row-tuple comparison, the CASE ladder verbatim (sentinel 2^62)."""
    inf = str(1 << 62)
    return f"""
  WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid,
                    doc_id % 7 AS lane FROM documents),
  iv AS (
    SELECT 's' || sid AS subj, 'u' AS url, 'p' AS pred, 'v1' AS obj,
           CAST(0 AS BIGINT) AS f, CAST(10 AS BIGINT) AS t FROM d
    UNION ALL
    SELECT 's' || sid, 'u', 'p', 'v2',
           CAST(CASE lane WHEN 0 THEN 12 WHEN 1 THEN 10 WHEN 2 THEN 5
                WHEN 3 THEN 0 WHEN 4 THEN 2 WHEN 5 THEN 4 ELSE 0 END
                AS BIGINT),
           CAST(CASE lane WHEN 0 THEN NULL WHEN 1 THEN 14 WHEN 2 THEN 14
                WHEN 3 THEN 6 WHEN 4 THEN 8 WHEN 5 THEN 10 ELSE 10 END
                AS BIGINT)
    FROM d
    UNION ALL
    SELECT 's' || sid, 'u', 'p', 'v3', 20, NULL
    FROM d WHERE doc_id % 5 = 0),
  ep AS (SELECT subj, pred, url, obj, f,
                coalesce(t, {inf}) AS t2 FROM iv),
  pr AS (
    SELECT a.subj, a.pred,
           a.url AS url_a, a.obj AS obj_a, a.f AS from_a, a.t2 AS ta,
           b.url AS url_b, b.obj AS obj_b, b.f AS from_b, b.t2 AS tb
    FROM ep a JOIN ep b
      ON a.subj = b.subj AND a.pred = b.pred
     AND (a.f, a.t2, a.url, a.obj) < (b.f, b.t2, b.url, b.obj))
  SELECT subj, pred, url_a, obj_a, from_a,
         CASE WHEN ta = {inf} THEN NULL ELSE ta END AS to_a,
         url_b, obj_b, from_b,
         CASE WHEN tb = {inf} THEN NULL ELSE tb END AS to_b,
         CASE WHEN ta < from_b THEN 'before'
              WHEN ta = from_b THEN 'meets'
              WHEN from_a = from_b AND ta = tb THEN 'equals'
              WHEN from_a = from_b THEN 'starts'
              WHEN tb = ta THEN 'finished_by'
              WHEN tb < ta THEN 'contains'
              ELSE 'overlaps' END AS relation
  FROM pr ORDER BY subj, obj_a, obj_b"""


def sql_entity_provenance() -> str:
    """Mirror: the ranked-annotation CTE chain; graph ≡ source/doc_id
    (what as_quads recovers from the subj fragment), one COUNT
    DISTINCT per entity."""
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  ann AS (
    SELECT r.*, d.source FROM ranked r
    JOIN documents d ON r.doc_id = d.doc_id WHERE r.rank = 1
  )
  SELECT uri AS e,
         CAST(count(DISTINCT source || '/' || CAST(doc_id AS VARCHAR))
              AS BIGINT) AS n_pages
  FROM ann GROUP BY uri"""
    )


_FUSION_ITERS = 5
_FUSION_PRIOR = 0.8


def _fusion_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted conflicting-claims fixture for the truth-discovery pair,
    derived arithmetically from documents so both engines construct
    the identical claim set: items are 5-doc blocks, 7 sources by
    doc_id residue — sources 0-4 assert the item's true value, 5-6
    each assert a source-distinct wrong value (real conflict in every
    block that holds a noisy residue). Even-doc claims are planted
    TWICE so the operator's full-key dedup is non-vacuous."""
    d = _docs(spark, sf_dir).select("doc_id")

    def _claims(frame: DataFrame) -> DataFrame:
        sid = F.col("doc_id") % 7
        item = (F.col("doc_id") / 5).cast("long").cast("string")
        return frame.select(
            F.concat(F.lit("src"), sid.cast("string")).alias("source"),
            F.concat(F.lit("e"), item).alias("subj"),
            F.lit("ex:val").alias("pred"),
            F.when(sid < 5, F.concat(F.lit("T"), item))
             .otherwise(F.concat(F.lit("F"), item, F.lit("_"),
                                 sid.cast("string"))).alias("obj"))

    return _claims(d).unionByName(
        _claims(d.filter(F.col("doc_id") % 2 == 0)))


def q_fused_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery / knowledge fusion
    (operators/fusion.py::truth_discovery): 5 rounds of the
    normalized-voting trust⇄belief fixpoint over the planted
    conflicting-claims fixture. Output one row per distinct claim
    (subj, pred, obj, n_sources, belief, winner) — belief at the
    repo-wide 9 dp contract, winner derived from the ROUNDED belief
    with an obj tie-break so the flag is engine-stable."""
    from dbpedia_spotlight_spark.operators.fusion import truth_discovery
    return truth_discovery(_fusion_claims(spark, sf_dir),
                           iters=_FUSION_ITERS, prior=_FUSION_PRIOR)


def _sql_fusion_claims() -> str:
    return """
  d AS (SELECT doc_id FROM documents),
  base AS (
    SELECT 'src' || CAST(doc_id % 7 AS VARCHAR) AS source,
           'e' || CAST(doc_id // 5 AS VARCHAR) AS subj,
           'ex:val' AS pred,
           CASE WHEN doc_id % 7 < 5
                THEN 'T' || CAST(doc_id // 5 AS VARCHAR)
                ELSE 'F' || CAST(doc_id // 5 AS VARCHAR) || '_'
                     || CAST(doc_id % 7 AS VARCHAR) END AS obj,
           doc_id
    FROM d),
  cl AS (
    SELECT DISTINCT source, subj, pred, obj FROM (
      SELECT source, subj, pred, obj FROM base
      UNION ALL
      SELECT source, subj, pred, obj FROM base WHERE doc_id % 2 = 0))"""


def _sql_fusion_iters() -> str:
    """t0 … t{K} trust CTEs — the unrolled fixpoint (one vote + one
    normalize + one trust-mean per round, exactly the arithmetic
    _iterate_trust runs). MATERIALIZED is load-bearing: each round
    references its predecessor twice and plain CTEs inline."""
    its = [f"""
  t0 AS (SELECT source, {_FUSION_PRIOR} AS trust
         FROM (SELECT DISTINCT source FROM cl))"""]
    for i in range(1, _FUSION_ITERS + 1):
        its.append(f"""
  v{i} AS (SELECT subj, pred, obj, sum(t.trust) AS vote
           FROM cl JOIN t{i - 1} t USING (source) GROUP BY 1, 2, 3),
  b{i} AS MATERIALIZED (
    SELECT subj, pred, obj,
           vote / sum(vote) OVER (PARTITION BY subj, pred) AS b
    FROM v{i}),
  t{i} AS MATERIALIZED (
    SELECT cl.source, avg(b.b) AS trust
    FROM cl JOIN b{i} b USING (subj, pred, obj) GROUP BY 1)""")
    return ",".join(its)


def sql_fused_truth() -> str:
    k = _FUSION_ITERS
    return f"""
  WITH {_sql_fusion_claims()}, {_sql_fusion_iters()},
  vf AS (SELECT subj, pred, obj, sum(t.trust) AS vote,
                count(*) AS n_sources
         FROM cl JOIN t{k} t USING (source) GROUP BY 1, 2, 3),
  bf AS (SELECT subj, pred, obj, n_sources,
                round(vote / sum(vote) OVER (PARTITION BY subj, pred),
                      9) AS belief
         FROM vf)
  SELECT subj, pred, obj, n_sources, belief,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY belief DESC, obj ASC) = 1 AS winner
  FROM bf"""


def q_fusion_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-source reliability from the same fixpoint
    (operators/fusion.py::source_trust): (source, n_claims, trust) —
    the noisy residues (src5/src6, minority-value assertors) must land
    strictly below the honest five."""
    from dbpedia_spotlight_spark.operators.fusion import source_trust
    return source_trust(_fusion_claims(spark, sf_dir),
                        iters=_FUSION_ITERS, prior=_FUSION_PRIOR)


def sql_fusion_trust() -> str:
    k = _FUSION_ITERS
    return f"""
  WITH {_sql_fusion_claims()}, {_sql_fusion_iters()}
  SELECT cl.source, count(*) AS n_claims,
         round(t.trust, 9) AS trust
  FROM cl JOIN t{k} t USING (source)
  GROUP BY cl.source, t.trust"""


_NIL_DIM = 32
_NIL_THRESHOLD = 0.6
_NIL_WINDOW = 4
_NIL_ITERS = 16  # fixture converges in 11 rounds (measured at sf0.01);
# post-convergence rounds are no-ops, so the fixed unroll stays exact
_NIL_PATTERN = "((?:spark|table|hash) [a-z]+)"


def _nil_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-NIL mentions from documents, fully relationally: every
    'spark|table|hash <word>' bigram is an unlinkable mention, its
    context the ±60-char window around the bigram's FIRST occurrence
    (locate — deterministic; repeated mentions of one surface in one
    doc share the context, which is what a real context-window
    extractor degrades to under heavy repetition anyway)."""
    d = _docs(spark, sf_dir)
    return (d.select(
                "doc_id", "text",
                F.posexplode(F.expr(
                    f"regexp_extract_all(text, '{_NIL_PATTERN}', 1)"))
                 .alias("pos", "mention"))
            .filter(F.col("pos") < 8)
            .select(
                (F.col("doc_id") * 8 + F.col("pos")).alias("mention_id"),
                F.col("mention").alias("surface_form"),
                F.expr("substring(text, greatest(1, "
                       "locate(mention, text) - 60), 120)")
                 .alias("context")))


def q_nil_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NIL clustering (operators/nilcluster.py): unlinkable mentions →
    emergent-entity clusters. Blocking on the casefolded surface key,
    sorted-neighborhood pairs (window=4), hashed-context cosine verify
    (≥0.6, rounded to 9dp before the compare), min-label components.
    The oracle replays every stage: mention extraction, the embed.py
    hashed vectors, the rank-window pair join, and the propagation
    rounds as unrolled MATERIALIZED CTEs — fixed ``_NIL_ITERS`` rounds
    on both engines, so equality is unconditional (not convergence-
    dependent). Non-vacuous at sf0.01: ~1.3k clusters over ~2.3k
    mentions, 965 singletons, largest cluster 22."""
    from dbpedia_spotlight_spark.operators.nilcluster import nil_clusters
    out = nil_clusters(_nil_mentions(spark, sf_dir),
                       dim=_NIL_DIM, threshold=_NIL_THRESHOLD,
                       window=_NIL_WINDOW, max_iter=_NIL_ITERS)
    return out.select("mention_id", "surface_key",
                      F.col("cluster").cast("long").alias("cluster"),
                      "nil_uri", "oversize").orderBy("mention_id")


def sql_nil_clusters(dim: int = _NIL_DIM,
                     threshold: float = _NIL_THRESHOLD,
                     window: int = _NIL_WINDOW,
                     n_iter: int = _NIL_ITERS,
                     max_block: int = 10_000) -> str:
    from dbpedia_spotlight_spark.operators.textstats import (
        CASEFOLD_FROM, CASEFOLD_TO,
    )
    nrm = (lambda col: f"trim(regexp_replace(translate({col}, "
           f"'{CASEFOLD_FROM}', '{CASEFOLD_TO}'), "
           f"'[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))")
    iters = []
    for t in range(1, n_iter + 1):
        iters.append(f"""
  l{t} AS MATERIALIZED (
    SELECT l.id, LEAST(l.comp, COALESCE(MIN(nl.comp), l.comp)) AS comp
    FROM l{t - 1} l
    LEFT JOIN e ON e.src = l.id
    LEFT JOIN l{t - 1} nl ON nl.id = e.dst
    GROUP BY l.id, l.comp
  )""")
    return f"""
  WITH m0 AS (
    SELECT doc_id, text,
           unnest(regexp_extract_all(text, '{_NIL_PATTERN}', 1))
             AS mention,
           generate_subscripts(
             regexp_extract_all(text, '{_NIL_PATTERN}', 1), 1) - 1 AS pos
    FROM documents),
  m AS MATERIALIZED (
    SELECT doc_id * 8 + pos AS id, {nrm('mention')} AS k,
           substr(text, greatest(1, strpos(text, mention) - 60), 120)
             AS ctx
    FROM m0 WHERE pos < 8),
  big AS (SELECT k FROM m GROUP BY k HAVING count(*) > {max_block}),
  small AS MATERIALIZED (
    SELECT m.* FROM m LEFT JOIN big ON big.k = m.k WHERE big.k IS NULL),
  toks AS (
    SELECT id, unnest(string_split({nrm('ctx')}, ' ')) AS tok
    FROM small),
  h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM toks),
  c AS (SELECT id, (h % {dim})::INT AS bucket,
               sum(CASE WHEN (h >> 20) % 2 = 0 THEN 1.0 ELSE -1.0 END)
                 AS c
        FROM h GROUP BY 1, 2),
  grid AS (SELECT small.id, r.i::INT AS i FROM small, range(0,{dim}) r(i)),
  raw AS (SELECT g.id, g.i, coalesce(c.c, 0.0) AS x
          FROM grid g LEFT JOIN c ON c.id = g.id AND c.bucket = g.i),
  n AS (SELECT id, sqrt(sum(x * x)) AS nrm FROM raw GROUP BY 1),
  v AS (SELECT raw.id,
               list(CASE WHEN nrm > 0 THEN round(x / nrm, 9)
                         ELSE x END ORDER BY i) AS v
        FROM raw JOIN n ON n.id = raw.id GROUP BY raw.id),
  ranked AS MATERIALIZED (
    SELECT small.id, small.k, v.v,
           row_number() OVER (PARTITION BY small.k
                              ORDER BY small.id) AS r
    FROM small JOIN v ON v.id = small.id),
  pairs AS MATERIALIZED (
    SELECT a.id AS a, b.id AS b
    FROM ranked a JOIN ranked b
      ON a.k = b.k AND b.r > a.r AND b.r <= a.r + {window}
    WHERE round(list_dot_product(a.v, b.v), 9) >= {threshold}),
  e AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b AS src, a AS dst FROM pairs),
  l0 AS MATERIALIZED (SELECT id, id AS comp FROM small),{",".join(iters)},
  resolved AS (
    SELECT s.id, s.k, l.comp AS cluster, FALSE AS oversize
    FROM small s JOIN l{n_iter} l ON l.id = s.id),
  over_r AS (
    SELECT m.id, m.k,
           min(m.id) OVER (PARTITION BY m.k) AS cluster,
           TRUE AS oversize
    FROM m JOIN big ON big.k = m.k),
  u AS (SELECT * FROM resolved UNION ALL SELECT * FROM over_r)
  SELECT id AS mention_id, k AS surface_key, cluster,
         'nil:' || replace(k, ' ', '_') || '#' || cluster AS nil_uri,
         oversize
  FROM u ORDER BY mention_id"""


_BFS_HOPS = 6

_TRANSE_DIM = 4
_TRANSE_STEPS = 2
_TRANSE_LR = 0.05
_TRANSE_MARGIN = 1.0


def q_kg_transe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TransE training (operators/kgembed.py::train_transe)
    over the corroborated relation triples: 2 full-batch steps at
    dim 4 (md5 init, per-step md5 tail corruption, analytic gradients,
    entity renorm, 9dp per-step rounding). The oracle unrolls BOTH
    steps as generated CTE chains — init, corruption index, gradient
    sums via unnest, the update + renorm + round — so the engines can
    only agree if every piece of the training math matches."""
    from dbpedia_spotlight_spark.operators.kgembed import train_transe
    trip = _refine_triples(spark, sf_dir)
    out = train_transe(trip, dim=_TRANSE_DIM, n_steps=_TRANSE_STEPS,
                       lr=_TRANSE_LR, margin=_TRANSE_MARGIN)
    # exploded scalar shape: the driver's value-hash compares scalar
    # cells, not arrays (the text_embeddings precedent)
    return (out.select("kind", "name",
                       F.posexplode("v").alias("i", "x"))
            .orderBy("kind", "name", "i"))


def _sql_kg_embed(model: str, dim: int, n_steps: int,
                  lr: float, margin: float) -> str:
    """Generated-CTE oracle for the KG-embedding trainers: unrolls
    every full-batch step (init, md5 corruption, per-model gradient
    lists, unnest gradient sums, update + renorm + dyadic quant). The
    per-model pieces are exactly the grad list_transforms and the
    active-margin WHERE; everything else is shared."""
    idxs = "[" + ", ".join(str(i) for i in range(1, dim + 1)) + "]"
    scale = 12.0 / dim ** 0.5
    q = lambda e: f"round(({e}) * 1073741824.0) / 1073741824.0"  # noqa: E731

    def init_list(name_expr: str) -> str:
        comps = ", ".join(
            f"((('0x' || substr(md5({name_expr} || '#{i}'), 1, 15))"
            f"::BIGINT / 1152921504606846976.0 - 0.5) * {scale!r})"
            for i in range(dim))
        return f"[{comps}]"

    if model == "transe":
        grads = f"""
           list_transform({idxs}, i -> 2.0 * (nv[i] - tv[i])) AS gh,
           list_transform({idxs}, i -> 2.0 * (nv[i] - tv[i])) AS gr,
           list_transform({idxs},
             i -> -2.0 * (hv[i] + rv[i] - tv[i])) AS gt,
           list_transform({idxs},
             i -> 2.0 * (hv[i] + rv[i] - nv[i])) AS gn"""
        where = f"""
    WHERE {margin!r}
          + list_sum(list_transform({idxs},
              i -> pow(hv[i] + rv[i] - tv[i], 2)))
          - list_sum(list_transform({idxs},
              i -> pow(hv[i] + rv[i] - nv[i], 2))) > 0"""
    elif model == "distmult":
        # quantized-product gradients, (h*r)*t association
        grads = f"""
           list_transform({idxs},
             i -> {q('rv[i] * nv[i]')} - {q('rv[i] * tv[i]')}) AS gh,
           list_transform({idxs},
             i -> {q('hv[i] * nv[i]')} - {q('hv[i] * tv[i]')}) AS gr,
           list_transform({idxs},
             i -> -{q('hv[i] * rv[i]')}) AS gt,
           list_transform({idxs},
             i -> {q('hv[i] * rv[i]')}) AS gn"""
        where = f"""
    WHERE {margin!r}
          - list_sum(list_transform({idxs},
              i -> {q('(hv[i] * rv[i]) * tv[i]')}))
          + list_sum(list_transform({idxs},
              i -> {q('(hv[i] * rv[i]) * nv[i]')})) > 0"""
    else:  # complex: packed [Re | Im] halves, score Re(<h,r,conj(t)>)
        h = dim // 2
        hidx = "[" + ", ".join(str(i) for i in range(1, h + 1)) + "]"

        def _gh(t):
            return (
                f"list_concat(list_transform({hidx}, i -> "
                f"({q(f'rv[i] * {t}[i]')} + {q(f'rv[i+{h}] * {t}[i+{h}]')})"
                f"), list_transform({hidx}, i -> "
                f"({q(f'rv[i] * {t}[i+{h}]')} - {q(f'rv[i+{h}] * {t}[i]')})"
                f"))")

        def _gr(t):
            return (
                f"list_concat(list_transform({hidx}, i -> "
                f"({q(f'hv[i] * {t}[i]')} + {q(f'hv[i+{h}] * {t}[i+{h}]')})"
                f"), list_transform({hidx}, i -> "
                f"({q(f'hv[i] * {t}[i+{h}]')} - {q(f'hv[i+{h}] * {t}[i]')})"
                f"))")

        _gt = (
            f"list_concat(list_transform({hidx}, i -> "
            f"({q('rv[i] * hv[i]')} - {q(f'rv[i+{h}] * hv[i+{h}]')})"
            f"), list_transform({hidx}, i -> "
            f"({q(f'rv[i] * hv[i+{h}]')} + {q(f'rv[i+{h}] * hv[i]')})"
            f"))")

        def _score(t):
            return (
                f"((list_sum(list_transform({hidx}, i -> "
                f"{q(f'(hv[i] * rv[i]) * {t}[i]')}))"
                f" + list_sum(list_transform({hidx}, i -> "
                f"{q(f'(hv[i+{h}] * rv[i]) * {t}[i+{h}]')})))"
                f" + list_sum(list_transform({hidx}, i -> "
                f"{q(f'(hv[i] * rv[i+{h}]) * {t}[i+{h}]')})))"
                f" - list_sum(list_transform({hidx}, i -> "
                f"{q(f'(hv[i+{h}] * rv[i+{h}]) * {t}[i]')}))")

        grads = f"""
           list_transform({idxs},
             i -> {_gh('nv')}[i] - {_gh('tv')}[i]) AS gh,
           list_transform({idxs},
             i -> {_gr('nv')}[i] - {_gr('tv')}[i]) AS gr,
           list_transform({idxs}, i -> -({_gt}[i])) AS gt,
           list_transform({idxs}, i -> {_gt}[i]) AS gn"""
        where = f"""
    WHERE {margin!r} - ({_score('tv')}) + ({_score('nv')}) > 0"""

    steps_sql = []
    for t in range(n_steps):
        steps_sql.append(f"""
  act{t} AS MATERIALIZED (
    SELECT b.*,{grads}
    FROM (
      SELECT tr.subj, tr.pred, tr.obj, nm.name AS nname,
             eh.v AS hv, et.v AS tv, en.v AS nv, rr.v AS rv
      FROM (SELECT subj, pred, obj,
                   ('0x' || substr(md5(subj || '|' || pred || '|' ||
                                       obj || '|{t}'), 1, 15))::BIGINT
                     % (SELECT count(*) FROM idx) AS ni
            FROM trip) tr
      JOIN idx nm ON nm.i = tr.ni
      JOIN e{t} eh ON eh.name = tr.subj
      JOIN e{t} et ON et.name = tr.obj
      JOIN e{t} en ON en.name = nm.name
      JOIN r{t} rr ON rr.name = tr.pred) b{where}),
  eg{t} AS (
    SELECT name, list(g ORDER BY pos) AS grad FROM (
      SELECT name, pos, sum(gi) AS g FROM (
        SELECT subj AS name, unnest(gh) AS gi,
               generate_subscripts(gh, 1) AS pos FROM act{t}
        UNION ALL
        SELECT obj, unnest(gt), generate_subscripts(gt, 1) FROM act{t}
        UNION ALL
        SELECT nname, unnest(gn), generate_subscripts(gn, 1)
        FROM act{t}) u
      GROUP BY name, pos) s
    GROUP BY name),
  rg{t} AS (
    SELECT name, list(g ORDER BY pos) AS grad FROM (
      SELECT pred AS name, pos, sum(gi) AS g FROM (
        SELECT pred, unnest(gr) AS gi,
               generate_subscripts(gr, 1) AS pos FROM act{t}) u
      GROUP BY pred, pos) s
    GROUP BY name),
  es{t} AS (
    SELECT e.name,
           CASE WHEN g.grad IS NULL THEN e.v
                ELSE list_transform({idxs},
                       i -> e.v[i] - {lr!r} * g.grad[i]) END AS v
    FROM e{t} e LEFT JOIN eg{t} g ON g.name = e.name),
  e{t + 1} AS MATERIALIZED (
    SELECT name, list_transform({idxs}, i -> round(
             (CASE WHEN nrm > 0 THEN v[i] / nrm ELSE v[i] END)
             * 1073741824.0) / 1073741824.0) AS v
    FROM (SELECT name, v,
                 sqrt(list_sum(list_transform({idxs},
                   i -> v[i] * v[i]))) AS nrm
          FROM es{t}) q),
  r{t + 1} AS MATERIALIZED (
    SELECT r.name,
           CASE WHEN g.grad IS NULL
                THEN list_transform({idxs},
                       i -> round(r.v[i] * 1073741824.0) / 1073741824.0)
                ELSE list_transform({idxs},
                       i -> round((r.v[i] - {lr!r} * g.grad[i])
                                  * 1073741824.0) / 1073741824.0)
           END AS v
    FROM r{t} r LEFT JOIN rg{t} g ON g.name = r.name)""")
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + "," + _SQL_REL_OK + _SQL_REFINE_TRIP + f""",
  ents AS (SELECT DISTINCT subj AS name FROM trip
           UNION SELECT obj FROM trip),
  idx AS MATERIALIZED (
    SELECT name, row_number() OVER (ORDER BY name) - 1 AS i FROM ents),
  e0 AS MATERIALIZED (
    SELECT name, list_transform({init_list('name')},
             x -> round(x * 1073741824.0) / 1073741824.0) AS v FROM ents),
  r0 AS MATERIALIZED (
    SELECT name, list_transform({init_list('name')},
             x -> round(x * 1073741824.0) / 1073741824.0) AS v
    FROM (SELECT DISTINCT pred AS name FROM trip) p),{",".join(steps_sql)}
  SELECT kind, name,
         CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS i,
         unnest(v) AS x
  FROM (SELECT 'entity' AS kind, name, v FROM e{n_steps}
        UNION ALL
        SELECT 'relation', name, v FROM r{n_steps}) u
  ORDER BY kind, name, i"""
    )


def sql_kg_transe(dim: int = _TRANSE_DIM, n_steps: int = _TRANSE_STEPS,
                  lr: float = _TRANSE_LR,
                  margin: float = _TRANSE_MARGIN) -> str:
    return _sql_kg_embed("transe", dim, n_steps, lr, margin)


def q_kg_distmult(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed DistMult training (operators/kgembed.py::
    train_distmult) over the same corroborated relation triples as
    kg_transe: 2 full-batch steps at dim 4 with grid-quantized
    component products (the determinism device products need that
    grid-exact differences don't). The oracle reuses the shared
    generated-CTE unroll with the bilinear gradient lists and the
    margin − s_pos + s_neg active test."""
    from dbpedia_spotlight_spark.operators.kgembed import train_distmult
    trip = _refine_triples(spark, sf_dir)
    out = train_distmult(trip, dim=_TRANSE_DIM, n_steps=_TRANSE_STEPS,
                         lr=_TRANSE_LR, margin=_TRANSE_MARGIN)
    return (out.select("kind", "name",
                       F.posexplode("v").alias("i", "x"))
            .orderBy("kind", "name", "i"))


def sql_kg_distmult() -> str:
    return _sql_kg_embed("distmult", _TRANSE_DIM, _TRANSE_STEPS,
                         _TRANSE_LR, _TRANSE_MARGIN)


def q_kg_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ComplEx training (operators/kgembed.py::
    train_complex) over the same corroborated relation triples:
    2 full-batch steps at dim 4 = 2 complex components (packed
    [Re | Im] halves; score Re(<h, r, conj(t)>) — the
    antisymmetry-capable third geometry). The oracle reuses the
    shared generated-CTE unroll with the complex gradient lists
    (half-index arithmetic, every pairwise product grid-requantized)
    and the 4-term score in the active test."""
    from dbpedia_spotlight_spark.operators.kgembed import train_complex
    trip = _refine_triples(spark, sf_dir)
    out = train_complex(trip, dim=_TRANSE_DIM, n_steps=_TRANSE_STEPS,
                        lr=_TRANSE_LR, margin=_TRANSE_MARGIN)
    return (out.select("kind", "name",
                       F.posexplode("v").alias("i", "x"))
            .orderBy("kind", "name", "i"))


def sql_kg_complex() -> str:
    return _sql_kg_embed("complex", _TRANSE_DIM, _TRANSE_STEPS,
                         _TRANSE_LR, _TRANSE_MARGIN)


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS landmarks (operators/graph.py::shortest_paths)
    over the strongest-neighbor BACKBONE of the co-mention graph: each
    node keeps only its max-n_docs neighbor (ties: lexicographically
    smallest — the deterministic backbone-extraction sparsifier), then
    hop distances from the two highest-support entities within 6 hops.
    The dense co-mention graph is diameter-1 at every SF; the backbone
    gives the BFS real multi-hop structure (dist up to 3-4 at the
    driver SFs). The oracle replays the backbone argmax and runs a
    genuine WITH RECURSIVE BFS at the same hop budget, min(dist) per
    (uri, source)."""
    from dbpedia_spotlight_spark.operators.graph import shortest_paths
    out = shortest_paths(_comention_backbone(spark, sf_dir),
                         _top_support_uris(2), max_hops=_BFS_HOPS)
    return out.orderBy("source", "dist", "uri")


def _comention_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongest-neighbor backbone of the co-mention graph (each node
    keeps its max-n_docs neighbor, ties lexicographic) — the shared
    sparsifier fixture for the BFS-family pairs."""
    from dbpedia_spotlight_spark.operators.graph import cooccurrence_edges
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    und = (edges.select(F.col("uri_a").alias("s"),
                        F.col("uri_b").alias("d"), "n_docs")
           .unionByName(edges.select(F.col("uri_b").alias("s"),
                                     F.col("uri_a").alias("d"),
                                     "n_docs")))
    return (und.groupBy("s")
            .agg(F.min(F.struct((-F.col("n_docs")).alias("nw"),
                                F.col("d").alias("d"))).alias("b"))
            .select(F.col("s").alias("uri_a"),
                    F.col("b.d").alias("uri_b"))
            .localCheckpoint(eager=True))


def _sql_bfs_prefix(n_sources: int, all_sources: bool = False) -> str:
    """Shared oracle prefix for the BFS family: backbone argmax replay
    + WITH RECURSIVE BFS from the top-``n_sources`` landmarks (or, with
    ``all_sources``, from EVERY backbone node — the all-pairs-distance
    form the HyperBall oracle reads balls out of), hop budget
    ``_BFS_HOPS``. Ends with the ``bfs`` CTE open for the caller's
    final SELECT."""
    srcs = ", ".join(f"('{u}')" for u in sorted(
        _top_support_uris(n_sources)))
    src_cte = ("SELECT DISTINCT s AS source FROM undbb" if all_sources
               else f"SELECT * FROM (VALUES {srcs}) v(source)")
    return (
        "WITH RECURSIVE " + _sql_toks() + ", " + _SQL_SPOTS + ", "
        + _SQL_RANKED + _WALK_SQL_PREFIX.split(",\n  deg AS")[0] + f""",
  bb AS (
    SELECT s, d FROM (
      SELECT s, d, row_number() OVER (
        PARTITION BY s ORDER BY n_docs DESC, d) AS r
      FROM (SELECT u.s, u.d, e2.n_docs FROM und u
            JOIN (SELECT x.uri AS uri_a, y.uri AS uri_b,
                         count(*) AS n_docs
                  FROM du x JOIN du y
                    ON x.doc_id = y.doc_id AND x.uri < y.uri
                  GROUP BY 1, 2) e2
              ON (e2.uri_a = u.s AND e2.uri_b = u.d)
              OR (e2.uri_a = u.d AND e2.uri_b = u.s)) w) q
    WHERE r = 1),
  undbb AS (SELECT s, d FROM bb UNION SELECT d, s FROM bb),
  srcs AS ({src_cte}),
  bfs AS (
    SELECT source AS uri, source, 0 AS dist FROM srcs
    UNION
    SELECT undbb.d, bfs.source, bfs.dist + 1
    FROM bfs JOIN undbb ON undbb.s = bfs.uri
    WHERE bfs.dist < {_BFS_HOPS})"""
    )


def sql_shortest_paths() -> str:
    return _sql_bfs_prefix(2) + """
  SELECT uri, source, CAST(min(dist) AS INTEGER) AS dist
  FROM bfs GROUP BY uri, source
  ORDER BY source, dist, uri"""


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-sampled harmonic centrality (operators/graph.py::
    harmonic_centrality) over the co-mention backbone: C(v) =
    Σ_s 1/d(v,s) from the four highest-support landmarks within 6
    hops. Cross-engine exactness device: the sum is computed as exact
    integers scaled by L = lcm(1..6) = 60 (every hop count divides L),
    so ``harmonic`` is ONE double division of an integer — identical
    bits in any engine at any aggregation order. The oracle replays
    the backbone + recursive BFS and folds the same L/d integers."""
    from dbpedia_spotlight_spark.operators.graph import (
        harmonic_centrality)
    out = harmonic_centrality(_comention_backbone(spark, sf_dir),
                              _top_support_uris(4), max_hops=_BFS_HOPS)
    return out.orderBy("uri")


def sql_harmonic_centrality() -> str:
    # L = lcm(1..6) = 60; 60 // dist is exact for every reachable dist
    return _sql_bfs_prefix(4) + """,
  md AS (SELECT uri, source, min(dist) AS dist
         FROM bfs GROUP BY uri, source)
  SELECT uri, CAST(count(*) AS INTEGER) AS n_reached,
         sum(CAST(60 // dist AS BIGINT)) / 60.0 AS harmonic
  FROM md WHERE dist > 0
  GROUP BY uri
  ORDER BY uri"""


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes betweenness (operators/graph.py::betweenness_centrality)
    over the co-mention backbone, sources = ALL backbone nodes (the
    exact form; landmark sampling is the same code with fewer
    sources). Cross-engine device: every backward-pass dependency term
    is quantized to the dyadic 2^-30 grid before summation (the
    kgembed discipline) — grid sums are exact in any order, so the
    oracle's generated per-level CTE replay (σ accumulation up,
    δ accumulation down, same IEEE op order) is bit-identical."""
    from dbpedia_spotlight_spark.operators.graph import (
        betweenness_centrality)
    bb = _comention_backbone(spark, sf_dir)
    srcs = sorted({r[0] for r in
                   bb.select("uri_a").distinct().collect()}
                  | {r[0] for r in
                     bb.select("uri_b").distinct().collect()})
    out = betweenness_centrality(bb, srcs, max_hops=_BFS_HOPS)
    return out.orderBy("uri")


def sql_betweenness() -> str:
    H = _BFS_HOPS
    Q = float(1 << 30)
    sig = ["  sig0 AS (SELECT uri, source, sigma FROM (SELECT uri, "
           "source, CAST(1 AS BIGINT) AS sigma FROM mdm WHERE dist = 0))"]
    for h in range(1, H + 1):
        sig.append(
            f"""  sig{h} AS (
    SELECT c.uri, c.source, sum(p.sigma) AS sigma
    FROM mdm c JOIN ee e ON e.d = c.uri
    JOIN sig{h - 1} p ON p.uri = e.s AND p.source = c.source
    WHERE c.dist = {h}
    GROUP BY c.uri, c.source)""")
    msig = ("  msig AS MATERIALIZED (" + " UNION ALL ".join(
        f"SELECT uri, source, {h} AS dist, sigma FROM sig{h}"
        for h in range(H + 1)) + ")")
    dels = []
    for d in range(H - 1, -1, -1):
        up = (f"LEFT JOIN del{d + 1} dw ON dw.uri = w.uri "
              "AND dw.source = w.source"
              if d < H - 1 else "")
        dcol = "COALESCE(dw.delta, 0.0)" if d < H - 1 else "0.0"
        dels.append(f"""  del{d} AS (
    SELECT v.uri, v.source,
           sum(floor((CAST(v.sigma AS DOUBLE) / w.sigma)
                     * (1.0 + {dcol}) * {Q!r}) / {Q!r}) AS delta
    FROM msig v JOIN ee e ON e.s = v.uri
    JOIN msig w ON w.uri = e.d AND w.source = v.source
                AND w.dist = {d + 1}
    {up}
    WHERE v.dist = {d}
    GROUP BY v.uri, v.source)""")
    alldel = ("  alldel AS (" + " UNION ALL ".join(
        f"SELECT uri, source, delta FROM del{d}"
        for d in range(H - 1, -1, -1)) + ")")
    return (_sql_bfs_prefix(1, all_sources=True) + ",\n"
            + "  mdm AS MATERIALIZED (SELECT uri, source, "
              "min(dist) AS dist FROM bfs GROUP BY 1, 2),\n"
            + "  ee AS MATERIALIZED (SELECT s, d FROM undbb),\n"
            + ",\n".join(sig) + ",\n" + msig + ",\n"
            + ",\n".join(dels) + ",\n" + alldel + """
  SELECT uri, sum(delta) / 2.0 AS betweenness
  FROM alldel WHERE uri <> source
  GROUP BY uri
  ORDER BY uri""")


_HB_P = 8  # HyperBall register precision for the oracle pair


def q_ball_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood function (operators/graph.py::
    ball_sizes — Boldi–Vigna 2013): estimated |B(v, t)| for every
    backbone node and radius t <= 6, via per-hop HLL register merges
    (max over neighbors IS ball union — exact until the estimator).
    The oracle computes the EXACT balls with an all-sources recursive
    BFS, rebuilds each ball's registers from the same md5 hash, and
    runs the same integer-exact estimator — certifying both the
    register-merge law and the cross-engine 4dp estimate."""
    from dbpedia_spotlight_spark.operators.graph import ball_sizes
    out = ball_sizes(_comention_backbone(spark, sf_dir),
                     max_hops=_BFS_HOPS, p=_HB_P)
    return out.orderBy("uri", "t")


def sql_ball_sizes() -> str:
    from dbpedia_spotlight_spark.operators.sketches import (
        HASH_BITS, _alpha)
    p = _HB_P
    m = 1 << p
    w_bits = HASH_BITS - p
    num = _alpha(m) * m * m * float(1 << HASH_BITS)
    return _sql_bfs_prefix(1, all_sources=True) + f""",
  md AS (SELECT source AS v, uri AS u, min(dist) AS dist
         FROM bfs GROUP BY 1, 2),
  mem AS (SELECT v, CAST(r.t AS INTEGER) AS t, u
          FROM md, range(0, {_BFS_HOPS + 1}) r(t)
          WHERE md.dist <= r.t),
  hh AS (SELECT v, t,
                ('0x' || substr(md5(u), 1, 15))::BIGINT AS h60
         FROM mem),
  reg AS (SELECT v, t, (h60 >> {w_bits}) AS bucket,
                 CASE WHEN (h60 & ((1::BIGINT << {w_bits}) - 1)) = 0
                      THEN {w_bits + 1}
                      ELSE {w_bits + 1}
                           - length(bin(h60
                                        & ((1::BIGINT << {w_bits})
                                           - 1)))
                 END AS rho
          FROM hh),
  regs AS (SELECT v, t, bucket, max(rho) AS rho
           FROM reg GROUP BY 1, 2, 3),
  agg AS (SELECT v, t, count(*) AS n_present,
                 sum(1::HUGEINT << ({HASH_BITS} - rho))
                   + ({m} - count(*))::HUGEINT
                     * (1::HUGEINT << {HASH_BITS}) AS s_int
          FROM regs GROUP BY 1, 2)
  SELECT v AS uri, t,
         round(CASE WHEN {num!r} / CAST(s_int AS DOUBLE) <= {2.5 * m!r}
                         AND ({m} - n_present) > 0
                    THEN {float(m)!r}
                         * ln({float(m)!r}
                              / CAST({m} - n_present AS DOUBLE))
                    ELSE {num!r} / CAST(s_int AS DOUBLE)
               END, 4) AS est
  FROM agg
  ORDER BY uri, t"""


# ---------------------------------------------------------------------------
# KG refinement family (operators/refine.py): entity summarization,
# quotient schema graph, SDType-style statistical type completion —
# all over the REAL extraction chain (annotate → relation triples)
# ---------------------------------------------------------------------------

_REFINE_MIN_DOCS = 2


def _refine_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared refinement fixture: corroborated relation triples
    (n_docs >= 2 — the relation_triples promotion gate) from the full
    annotate→extract_relations chain. Entity-centric (subj/obj are
    DBpedia URIs, preds are rel: surfaces), the exact KG the
    refinement passes run on after construction."""
    from dbpedia_spotlight_spark.operators.relations import (
        relation_triples,
    )
    rel = q_mention_relations(spark, sf_dir)
    # the refinement passes reuse this frame 3-5× (slots both
    # directions, anti-joins, stats); checkpoint truncates the
    # annotate→relations lineage so each reuse reads materialized
    # blocks instead of re-deriving the whole chain (the
    # q_link_prediction precedent)
    return relation_triples(rel, min_docs=_REFINE_MIN_DOCS) \
        .select("subj", "pred", "obj").localCheckpoint(eager=True)


# the relational twin of _refine_triples, shared by all three oracles
_SQL_REFINE_TRIP = f""",
  trip AS MATERIALIZED (
    SELECT DISTINCT s AS subj,
           'rel:' || replace(pred, ' ', '_') AS pred,
           o AS obj
    FROM ok
    GROUP BY s, pred, o
    HAVING count(DISTINCT doc_id) >= {_REFINE_MIN_DOCS})"""


def q_entity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity summarization for serving (operators/refine.py::
    entity_summary — RELIN/FACES lineage): top-3 facts per entity over
    the corroborated relation triples + rdf:type rows, ranked by
    predicate-IDF × value exclusivity (9dp-rounded before the rank,
    (pred, obj) tie-break). The oracle replays the annotate → relation
    chain and the two subject-count statistics relationally."""
    from dbpedia_spotlight_spark.lexicon_static import DBP, ENTITY_TYPES
    from dbpedia_spotlight_spark.operators.refine import entity_summary
    trip = _refine_triples(spark, sf_dir)
    ents = (trip.select(F.col("subj").alias("e"))
            .unionByName(trip.select(F.col("obj").alias("e")))
            .distinct())
    ty = spark.createDataFrame(
        [(DBP + u, t) for u, ts in sorted(ENTITY_TYPES.items())
         for t in ts], "e string, t string")
    tfacts = ents.join(ty, "e").select(
        F.col("e").alias("subj"), F.lit("rdf:type").alias("pred"),
        F.col("t").alias("obj"))
    out = entity_summary(trip.unionByName(tfacts), k=3)
    return out.orderBy("subj", "rank")


def sql_entity_summary() -> str:
    from dbpedia_spotlight_spark.lexicon_static import DBP, ENTITY_TYPES
    vals = ", ".join(f"('{DBP + u}', '{t}')"
                     for u, ts in sorted(ENTITY_TYPES.items())
                     for t in ts)
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + "," + _SQL_REL_OK + _SQL_REFINE_TRIP + f""",
  ty AS (SELECT * FROM (VALUES {vals}) t(e, tt)),
  ents AS (SELECT subj AS e FROM trip UNION SELECT obj FROM trip),
  facts AS MATERIALIZED (
    SELECT DISTINCT subj, pred, obj FROM (
      SELECT subj, pred, obj FROM trip
      UNION ALL
      SELECT ty.e, 'rdf:type', ty.tt
      FROM ty JOIN ents ON ents.e = ty.e) u),
  ns AS (SELECT count(DISTINCT subj) AS n FROM facts),
  np AS (SELECT pred, count(DISTINCT subj) AS c FROM facts GROUP BY 1),
  nv AS (SELECT pred, obj, count(DISTINCT subj) AS c
         FROM facts GROUP BY 1, 2),
  scored AS (
    SELECT f.subj, f.pred, f.obj,
           round(ln((SELECT n FROM ns) * 1.0 / np.c), 9) AS idf,
           round(1.0 / nv.c, 9) AS exclusivity,
           round(round(ln((SELECT n FROM ns) * 1.0 / np.c), 9)
                 * round(1.0 / nv.c, 9), 9) AS score
    FROM facts f
    JOIN np ON np.pred = f.pred
    JOIN nv ON nv.pred = f.pred AND nv.obj = f.obj),
  r AS (SELECT *, CAST(row_number() OVER (
            PARTITION BY subj ORDER BY score DESC, pred, obj)
          AS INTEGER) AS rank
        FROM scored)
  SELECT * FROM r WHERE rank <= 3 ORDER BY subj, rank"""
    )


def q_schema_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SchemEX-style quotient summarization (operators/refine.py::
    schema_graph): the relation-triple instance graph collapsed to
    (src_type, pred, dst_type) edges with distinct-fact and
    distinct-subject counts; untyped endpoints fall into owl:Thing.
    Differs from relation_signatures (which SUMS occurrence weights):
    this is the set-semantic schema census."""
    from dbpedia_spotlight_spark.lexicon_static import DBP, ENTITY_TYPES
    from dbpedia_spotlight_spark.operators.refine import schema_graph
    trip = _refine_triples(spark, sf_dir)
    ty = spark.createDataFrame(
        [(DBP + u, "rdf:type", t)
         for u, ts in sorted(ENTITY_TYPES.items()) for t in ts],
        "subj string, pred string, obj string")
    return schema_graph(trip, ty).orderBy("src_type", "pred", "dst_type")


def sql_schema_graph() -> str:
    from dbpedia_spotlight_spark.lexicon_static import DBP, ENTITY_TYPES
    vals = ", ".join(f"('{DBP + u}', '{t}')"
                     for u, ts in sorted(ENTITY_TYPES.items())
                     for t in ts)
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + "," + _SQL_REL_OK + _SQL_REFINE_TRIP + f""",
  ty AS (SELECT * FROM (VALUES {vals}) t(e, tt)),
  quot AS (
    SELECT coalesce(st.tt, 'owl:Thing') AS src_type, f.pred,
           coalesce(ot.tt, 'owl:Thing') AS dst_type, f.subj
    FROM trip f
    LEFT JOIN ty st ON st.e = f.subj
    LEFT JOIN ty ot ON ot.e = f.obj)
  SELECT src_type, pred, dst_type,
         CAST(count(*) AS BIGINT) AS n_triples,
         CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects
  FROM quot GROUP BY 1, 2, 3
  ORDER BY 1, 2, 3"""
    )


def q_type_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDType-style type completion (operators/refine.py::
    predict_types — Paulheim & Bizer 2013): hold out the types of a
    deterministic half of the entities (md5 first hex digit < '8' —
    the standard hide-and-predict evaluation), then infer each held-out
    entity's type distribution from its (pred, direction) slots,
    weighted by slot discriminability. The oracle replays the
    conditional distributions, squared-sum weights, and the
    score-then-rank cut relationally."""
    from dbpedia_spotlight_spark.lexicon_static import entity_rows
    from dbpedia_spotlight_spark.operators.refine import predict_types
    trip = _refine_triples(spark, sf_dir)
    ty = spark.createDataFrame(
        [(uri, t) for uri, _i, _s, ts in entity_rows() for t in ts],
        "subj string, obj string")
    kept = ty.filter(F.substring(F.md5("subj"), 1, 1)
                     .isin(*"89abcdef"))
    out = predict_types(trip, kept, min_conf=0.05, top_k=2)
    return out.orderBy("subj", "rank")


def sql_type_prediction() -> str:
    from dbpedia_spotlight_spark.lexicon_static import entity_rows
    vals = ", ".join(
        f"('{uri}', '{t}')"
        for uri, _i, _s, ts in entity_rows() for t in ts)
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED
        + "," + _SQL_REL_OK + _SQL_REFINE_TRIP + f""",
  kept AS (SELECT e, tt FROM (VALUES {vals}) t(e, tt)
           WHERE substr(md5(e), 1, 1) IN
                 ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f')),
  slots AS MATERIALIZED (
    SELECT DISTINCT e, pred, dir FROM (
      SELECT subj AS e, pred, 'out' AS dir FROM trip
      UNION ALL
      SELECT obj, pred, 'in' FROM trip) u),
  tslots AS (SELECT s.e, s.pred, s.dir, k.tt
             FROM slots s JOIN kept k ON k.e = s.e),
  pop AS (SELECT pred, dir, count(DISTINCT e) AS n
          FROM tslots GROUP BY 1, 2),
  st AS (SELECT pred, dir, tt, count(DISTINCT e) AS n
         FROM tslots GROUP BY 1, 2, 3),
  conf AS (SELECT st.pred, st.dir, st.tt, st.n * 1.0 / pop.n AS c
           FROM st JOIN pop ON pop.pred = st.pred AND pop.dir = st.dir),
  wt AS (SELECT pred, dir, sum(c * c) AS w FROM conf GROUP BY 1, 2),
  unty AS (SELECT s.* FROM slots s
           LEFT JOIN (SELECT DISTINCT e FROM kept) k ON k.e = s.e
           WHERE k.e IS NULL),
  num AS (SELECT u.e, conf.tt, sum(wt.w * conf.c) AS x
          FROM unty u
          JOIN conf ON conf.pred = u.pred AND conf.dir = u.dir
          JOIN wt ON wt.pred = u.pred AND wt.dir = u.dir
          GROUP BY 1, 2),
  den AS (SELECT u.e, sum(wt.w) AS d FROM unty u
          JOIN wt ON wt.pred = u.pred AND wt.dir = u.dir
          GROUP BY 1),
  scored AS (SELECT num.e AS subj, num.tt AS type,
                    round(num.x / den.d, 9) AS score
             FROM num JOIN den ON den.e = num.e),
  r AS (SELECT *, CAST(row_number() OVER (
            PARTITION BY subj ORDER BY score DESC, type)
          AS INTEGER) AS rank
        FROM scored WHERE score >= 0.05)
  SELECT * FROM r WHERE rank <= 2 ORDER BY subj, rank"""
    )


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the entity co-mention graph (operators/graph.py::
    k_truss): the maximal subgraph where every surviving edge closes
    ≥ 2 triangles — the cohesive relation backbone a KG pipeline keeps
    when incidental co-mentions must not become asserted structure.
    Iterated peeling over :func:`edge_support` (degree-ordered wedge
    enumeration, skew-bounded); the oracle unrolls the peel as
    generated per-round CTE chains (id-ordered 3-way triangle join —
    equivalent enumeration: each triangle counted once per edge) and
    reads the support table at the fixpoint. Integer support counts —
    no float contract needed."""
    from dbpedia_spotlight_spark.operators.graph import (
        cooccurrence_edges, k_truss)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return k_truss(edges, 4).orderBy("uri_a", "uri_b")


_TRUSS_ROUNDS = 8  # oracle unroll depth; fixpoint is idempotent so any
#                    depth >= the actual peel count replays exactly


def sql_k_truss(k: int = 4, rounds: int = _TRUSS_ROUNDS) -> str:
    rounds_sql = []
    for i in range(rounds):
        rounds_sql.append(f"""
  t{i} AS (
    SELECT e1.uri_a AS a, e1.uri_b AS b, e2.uri_b AS c
    FROM e{i} e1
    JOIN e{i} e2 ON e2.uri_a = e1.uri_b
    JOIN e{i} e3 ON e3.uri_a = e1.uri_a AND e3.uri_b = e2.uri_b),
  s{i} AS MATERIALIZED (
    SELECT uri_a, uri_b, count(*) AS sup FROM (
      SELECT a AS uri_a, b AS uri_b FROM t{i}
      UNION ALL SELECT b AS uri_a, c AS uri_b FROM t{i}
      UNION ALL SELECT a AS uri_a, c AS uri_b FROM t{i}) u
    GROUP BY 1, 2),
  e{i + 1} AS MATERIALIZED (
    SELECT uri_a, uri_b FROM s{i} WHERE sup >= {k - 2})""")
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS MATERIALIZED (
    SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  e0 AS MATERIALIZED (
    SELECT x.uri AS uri_a, y.uri AS uri_b
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),""" + ",".join(rounds_sql) + f"""
  SELECT uri_a, uri_b, CAST(sup AS INTEGER) AS support
  FROM s{rounds - 1} WHERE sup >= {k - 2}
  ORDER BY uri_a, uri_b""")


def q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core-number decomposition of the co-mention graph
    (operators/graph.py::coreness — the Lü et al. 2016 H-operator
    iteration from degrees to the coreness fixpoint, histogram-shaped
    per round so no celebrity entity dominates a partition). The
    oracle unrolls the same H-index rounds as generated CTEs (running
    total over neighbor-value histogram descending, H = max(min(cum,
    value))); the fixpoint is idempotent, so an unroll depth ≥ the
    convergence round replays exactly. Integer core numbers."""
    from dbpedia_spotlight_spark.operators.graph import (
        cooccurrence_edges, coreness)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return coreness(edges).orderBy("uri")


_CORE_ROUNDS = 12  # oracle unroll depth (idempotent past convergence)


def sql_coreness(rounds: int = _CORE_ROUNDS) -> str:
    rounds_sql = []
    for i in range(rounds):
        rounds_sql.append(f"""
  c{i + 1} AS MATERIALIZED (
    SELECT uri, CAST(max(least(cum, CAST(core AS BIGINT))) AS INTEGER)
             AS core
    FROM (
      SELECT uri, core, sum(n) OVER (
        PARTITION BY uri ORDER BY core DESC) AS cum
      FROM (
        SELECT d.uri, c.core, count(*) AS n
        FROM directed d JOIN c{i} c ON c.uri = d.nbr
        GROUP BY 1, 2) h) q
    GROUP BY uri)""")
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS MATERIALIZED (
    SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  e0 AS MATERIALIZED (
    SELECT x.uri AS uri_a, y.uri AS uri_b
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),
  directed AS MATERIALIZED (
    SELECT uri_a AS uri, uri_b AS nbr FROM e0
    UNION ALL SELECT uri_b AS uri, uri_a AS nbr FROM e0),
  c0 AS MATERIALIZED (
    SELECT uri, CAST(count(*) AS INTEGER) AS core
    FROM directed GROUP BY 1),""" + ",".join(rounds_sql) + f"""
  SELECT uri, core FROM c{rounds} ORDER BY uri""")


def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney perplexity (operators/lm.py::
    train_kn_bigram_lm + kn_doc_perplexity) — the smoothing KenLM
    ships, trained on the doc_id ≡ 0 (mod 5) slice and scored over ALL
    docs, so OOV tokens and unseen contexts exercise both backoff
    branches. Four vocab-sized broadcast joins, zero UDFs; the oracle
    replays counts → continuation distribution → discounted
    interpolation with the identical float expression shape. 9dp
    mean-ln contract."""
    from dbpedia_spotlight_spark.operators.lm import (
        kn_doc_perplexity, train_kn_bigram_lm,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_kn_bigram_lm(docs.filter(F.col("doc_id") % 5 == 0),
                            discount=0.75)
    return kn_doc_perplexity(docs, lm).orderBy("doc_id")


def sql_kn_perplexity() -> str:
    return f"""
  WITH {_sql_decontam_norm()},
  toks AS (
    SELECT doc_id, list_prepend('<s>', string_split(t, ' ')) AS arr
    FROM norm),
  bg AS (
    SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
    FROM toks, UNNEST(range(1, len(arr))) AS u(i)),
  ref AS (SELECT * FROM bg WHERE doc_id % 5 = 0),
  ug AS (SELECT w1 AS w, count(*) AS c FROM ref GROUP BY 1),
  bgc AS MATERIALIZED (SELECT w1, w2, count(*) AS c FROM ref GROUP BY 1, 2),
  fan AS (SELECT w1, count(*) AS n1p FROM bgc GROUP BY 1),
  cont AS (SELECT w2, count(*) AS n1p FROM bgc GROUP BY 1),
  nbt AS (SELECT count(*) AS n FROM bgc),
  v AS (SELECT count(DISTINCT w2) AS v FROM ref WHERE w2 <> '<s>'),
  scored AS (
    SELECT bg.doc_id,
           ln(CASE WHEN ug.c IS NULL
                THEN (coalesce(cont.n1p, 0) + 1.0)
                     / CAST(nbt.n + v.v + 1 AS DOUBLE)
                ELSE (greatest(CAST(coalesce(bgc.c, 0) AS DOUBLE) - 0.75,
                               0.0)
                      + 0.75 * CAST(fan.n1p AS DOUBLE)
                        * ((coalesce(cont.n1p, 0) + 1.0)
                           / CAST(nbt.n + v.v + 1 AS DOUBLE)))
                     / CAST(ug.c AS DOUBLE)
              END) AS lnp
    FROM bg
    LEFT JOIN bgc ON bgc.w1 = bg.w1 AND bgc.w2 = bg.w2
    LEFT JOIN ug ON ug.w = bg.w1
    LEFT JOIN fan ON fan.w1 = bg.w1
    LEFT JOIN cont ON cont.w2 = bg.w2
    CROSS JOIN nbt CROSS JOIN v)
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(lnp), 9) AS avg_lnp,
         round(exp(-round(avg(lnp), 9)), 6) AS perplexity
  FROM scored
  GROUP BY doc_id
  ORDER BY doc_id"""


def q_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct sketch (operators/sketches.py::
    kmv_sketch/kmv_count): approximate distinct user_id per event_type
    at k=64 — below capacity the sketch holds every distinct hash and
    the count is EXACT (sf0.001 exercises this branch), at capacity
    the Beyer et al. (k−1)·2^60/h_(k) estimator applies (sf0.01).
    Integer hashes, one double division, round(4) — value-hash
    identical across engines; the oracle replays hash → bottom-k →
    estimator with a row_number window."""
    from dbpedia_spotlight_spark.operators.sketches import (
        kmv_count, kmv_sketch,
    )
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = kmv_sketch(events, ["event_type"], "user_id", k=64)
    return kmv_count(sk, ["event_type"], k=64).orderBy("event_type")


def sql_kmv_users(k: int = 64) -> str:
    space = float(1 << 60)
    return f"""
  WITH h AS (
    SELECT DISTINCT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
             AS h
    FROM events),
  bk AS (
    SELECT event_type, h, row_number() OVER (
      PARTITION BY event_type ORDER BY h) AS rn
    FROM h),
  agg AS (
    SELECT event_type, count(*) AS n, max(h) AS hk
    FROM bk WHERE rn <= {k} GROUP BY 1)
  SELECT event_type,
         round(CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                    ELSE {float(k - 1)!r} * {space!r}
                         / CAST(hk AS DOUBLE)
               END, 4) AS est
  FROM agg
  ORDER BY event_type"""


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity contributions (operators/graph.py::
    community_modularity) over the 4-round LPA labels — the quality
    gate a pipeline attaches to its communities before using them for
    entity grouping; Σ q_contrib is Newman's Q. Oracle extends the
    unrolled LPA replay with the e_c / d_c / m integer aggregates and
    the same two-division float shape, 9dp contract."""
    from dbpedia_spotlight_spark.operators.graph import (
        community_modularity, cooccurrence_edges, label_propagation)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    labels = label_propagation(edges, n_iter=4)
    return community_modularity(edges, labels).orderBy("label")


def sql_modularity() -> str:
    # reuse the LPA oracle's full CTE chain up to l4, then fold the
    # modularity aggregates on top of the same ed/und frames
    base = sql_lpa_communities()
    prefix = base[: base.rindex("SELECT uri, label")]
    return prefix + """,
  mem AS MATERIALIZED (SELECT uri, label FROM l4),
  mm AS (SELECT count(*) AS m FROM ed),
  internal AS (
    SELECT la.label, count(*) AS e_c
    FROM ed
    JOIN mem la ON la.uri = ed.uri_a
    JOIN mem lb ON lb.uri = ed.uri_b
    WHERE lb.label = la.label
    GROUP BY 1),
  degs AS (
    SELECT mem.label, count(*) AS d_c
    FROM und u JOIN mem ON mem.uri = u.src
    GROUP BY 1)
  SELECT d.label,
         CAST(coalesce(i.e_c, 0) AS BIGINT) AS n_internal,
         CAST(d.d_c AS BIGINT) AS total_degree,
         round(CAST(coalesce(i.e_c, 0) AS DOUBLE) / m.m
               - (CAST(d.d_c AS DOUBLE) / (2.0 * m.m))
                 * (CAST(d.d_c AS DOUBLE) / (2.0 * m.m)), 9) AS q_contrib
  FROM degs d
  LEFT JOIN internal i ON i.label = d.label
  CROSS JOIN mm m
  ORDER BY d.label"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity coefficient (operators/graph.py::
    degree_assortativity) over the deterministic host-link lane (the
    HITS fixture graph — h-hubs vs t-leaves give it real degree
    variance; the co-mention fixture is degree-REGULAR at these SFs,
    which makes r undefined by construction). One row (n_pairs,
    assortativity); all correlation sums accumulate in DECIMAL(38,0)
    (HUGEINT in the oracle) so the value is exact up to the final
    double division, 9dp contract."""
    from dbpedia_spotlight_spark.operators.graph import (
        degree_assortativity)
    d = _docs(spark, sf_dir)
    w = d.select("doc_id",
                 F.posexplode(F.split("text", " ")).alias("i", "w")) \
        .filter((F.col("i") % 5 == 0) & (F.col("w") != ""))
    ln = F.length("w")
    dst = F.concat(
        F.when(ln % 3 == 0,
               F.concat(F.lit("h"), (ln % 5).cast("string")))
        .otherwise(F.concat(F.lit("t"), (ln % 7).cast("string"))),
        F.lit(".example"))
    src = F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string"),
                   F.lit(".example"))
    links = w.select(src.alias("a"), dst.alias("b")) \
        .filter(F.col("a") != F.col("b"))
    edges = links.select(F.least("a", "b").alias("uri_a"),
                         F.greatest("a", "b").alias("uri_b")).distinct()
    return degree_assortativity(edges)


def sql_assortativity() -> str:
    return (
        """WITH w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents),
  l AS (
    SELECT 'h' || (doc_id % 5) || '.example' AS a,
           (CASE WHEN length(w) % 3 = 0 THEN 'h' || (length(w) % 5)
                 ELSE 't' || (length(w) % 7) END) || '.example' AS b
    FROM w WHERE (i - 1) % 5 = 0 AND w <> ''),
  ed AS MATERIALIZED (
    SELECT least(a, b) AS uri_a, greatest(a, b) AS uri_b
    FROM l WHERE a <> b GROUP BY 1, 2),
  deg AS (
    SELECT uri, count(*) AS degree FROM (
      SELECT uri_a AS uri FROM ed UNION ALL SELECT uri_b AS uri FROM ed)
    GROUP BY 1),
  tagged AS (
    SELECT da.degree AS x, db.degree AS y
    FROM ed JOIN deg da ON da.uri = ed.uri_a
            JOIN deg db ON db.uri = ed.uri_b),
  pairs AS (
    SELECT x, y FROM tagged UNION ALL SELECT y AS x, x AS y FROM tagged),
  agg AS (
    SELECT CAST(count(*) AS HUGEINT) AS n,
           sum(CAST(x AS HUGEINT)) AS sx,
           sum(CAST(x * y AS HUGEINT)) AS sxy,
           sum(CAST(x * x AS HUGEINT)) AS sxx
    FROM pairs)
  SELECT CAST(n AS BIGINT) AS n_pairs,
         round(CAST(n * sxy - sx * sx AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS assortativity
  FROM agg"""
    )


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted k-sample without replacement (operators/sampling.py::
    weighted_priority_sample): 20 docs per language, selection
    probability proportional to the length-derived weight — the
    corpus-mixing primitive, integer-exact via min-of-w virtual md5
    draws (no float keys to cross libm), so both engines pick the
    identical sample."""
    from dbpedia_spotlight_spark.operators.sampling import (
        weighted_priority_sample)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = weighted_priority_sample(
        docs, 20, F.col("n_chars") / 100, "doc_id",
        strata_cols=["lang"])
    return out.select("lang", "doc_id", "draw_weight", "priority",
                      "rank").orderBy("lang", "rank")


def sql_priority_sample(k: int = 20) -> str:
    return f"""
  WITH w AS (
    SELECT doc_id, lang,
           greatest(least(CAST(n_chars // 100 AS BIGINT), 64), 1) AS w
    FROM documents),
  draws AS (
    SELECT doc_id, lang, w, unnest(range(1, w + 1)) AS r FROM w),
  pri AS (
    SELECT doc_id, lang, w,
           min(('0x' || substr(md5(doc_id || '#wps#' || r), 1, 15))::BIGINT)
             AS priority
    FROM draws GROUP BY 1, 2, 3),
  rk AS (
    SELECT *, row_number() OVER (
      PARTITION BY lang ORDER BY priority, doc_id) AS rank
    FROM pri)
  SELECT lang, doc_id, w AS draw_weight, priority,
         CAST(rank AS INTEGER) AS rank
  FROM rk WHERE rank <= {k}
  ORDER BY lang, rank"""


def q_fact_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-window coalescing (triples.py::coalesce_intervals —
    gaps-and-islands over fact episodes): planted per-document lanes
    cover overlap+adjacency fusion, a live tail, a true gap, and a
    singleton; multi-url evidence feeds n_sources. Integer generations
    throughout, so the oracle's identical two-window replay is
    value-exact."""
    from dbpedia_spotlight_spark.triples import coalesce_intervals
    d = _docs(spark, sf_dir).select("doc_id")
    sid = F.col("doc_id").cast("string")
    lane = F.col("doc_id") % 4
    nl = F.lit(None).cast("long")
    ep = lambda u, f, t: F.struct(  # noqa: E731
        F.lit(u).alias("url"),
        F.lit(f).cast("long").alias("valid_from"),
        (nl if t is None else F.lit(t).cast("long")).alias("valid_to"))
    eps = (F.when(lane == 0, F.array(ep("u1", 0, 10), ep("u2", 5, 15),
                                     ep("u1", 15, 20), ep("u1", 25, 30)))
           .when(lane == 1, F.array(ep("u1", 0, 5), ep("u2", 3, None)))
           .when(lane == 2, F.array(ep("u1", 0, 2), ep("u1", 4, 6)))
           .otherwise(F.array(ep("u1", 7, 9))))
    iv = (d.select(F.concat(F.lit("s"), sid).alias("subj"),
                   F.explode(eps).alias("e"))
          .select("subj", "e.url", F.lit("p").alias("pred"),
                  F.lit("v").alias("obj"), "e.valid_from", "e.valid_to"))
    return (coalesce_intervals(iv)
            .orderBy("subj", "valid_from"))


def sql_fact_windows() -> str:
    inf = str(1 << 62)
    return f"""
  WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid,
                    doc_id % 4 AS lane FROM documents),
  iv AS (
    SELECT 's' || sid AS subj, u AS url, 'p' AS pred, 'v' AS obj,
           f AS valid_from, t AS valid_to
    FROM d, LATERAL (
      SELECT * FROM (VALUES
        (0, 'u1', CAST(0 AS BIGINT), CAST(10 AS BIGINT)),
        (0, 'u2', 5, 15), (0, 'u1', 15, 20), (0, 'u1', 25, 30),
        (1, 'u1', 0, 5), (1, 'u2', 3, NULL),
        (2, 'u1', 0, 2), (2, 'u1', 4, 6),
        (3, 'u1', 7, 9)) v(vl, u, f, t)
      WHERE v.vl = d.lane) lanes),
  m AS (SELECT *, coalesce(valid_to, {inf}) AS t_ FROM iv),
  x AS (
    SELECT *, max(t_) OVER (
      PARTITION BY subj, pred, obj
      ORDER BY valid_from, t_, url
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runp
    FROM m),
  y AS (
    SELECT *, CASE WHEN runp IS NULL OR valid_from > runp
                   THEN 1 ELSE 0 END AS nw
    FROM x),
  z AS (
    SELECT *, sum(nw) OVER (
      PARTITION BY subj, pred, obj
      ORDER BY valid_from, t_, url
      ROWS UNBOUNDED PRECEDING) AS island
    FROM y),
  g AS (
    SELECT subj, pred, obj, island,
           min(valid_from) AS valid_from, max(t_) AS e,
           count(*) AS n_episodes, count(DISTINCT url) AS n_sources
    FROM z GROUP BY 1, 2, 3, 4)
  SELECT subj, pred, obj, valid_from,
         CASE WHEN e = {inf} THEN NULL ELSE e END AS valid_to,
         n_episodes, n_sources
  FROM g ORDER BY subj, valid_from"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the documents word-frequency table
    (operators/corpusstats.py::zipf_fit, top-500 head): one row
    (n_ranks, slope, intercept, r2). Regression sums accumulate
    round(ln·,9) values as DECIMAL — exact in any order — so both
    engines divide identical numerators; the oracle replays rank →
    fixed-point ln sums → OLS verbatim."""
    from dbpedia_spotlight_spark.operators.corpusstats import zipf_fit
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_fit(docs, top_n=500)


def sql_zipf_fit(top_n: int = 500) -> str:
    return f"""
  WITH {_sql_decontam_norm()},
  wf AS (
    SELECT w AS word, count(*) AS n FROM (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm) q
    WHERE w <> '' GROUP BY 1),
  r AS (
    SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rank
    FROM wf),
  pts AS (
    SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
           CAST(round(ln(CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
    FROM r WHERE rank <= {top_n}),
  agg AS (
    SELECT count(*) AS m0,
           sum(x) AS sx0, sum(y) AS sy0,
           sum(CAST(x * y AS DECIMAL(38,18))) AS sxy0,
           sum(CAST(x * x AS DECIMAL(38,18))) AS sxx0,
           sum(CAST(y * y AS DECIMAL(38,18))) AS syy0
    FROM pts),
  v AS (
    SELECT m0, CAST(m0 AS DOUBLE) AS m,
           CAST(sx0 AS DOUBLE) AS sx, CAST(sy0 AS DOUBLE) AS sy,
           CAST(sxy0 AS DOUBLE) AS sxy, CAST(sxx0 AS DOUBLE) AS sxx,
           CAST(syy0 AS DOUBLE) AS syy
    FROM agg),
  d AS (
    SELECT m0, m, sx, sy,
           m * sxy - sx * sy AS cov,
           m * sxx - sx * sx AS xvar,
           m * syy - sy * sy AS yvar
    FROM v)
  SELECT CAST(m0 AS BIGINT) AS n_ranks,
         round(CASE WHEN xvar <> 0 THEN cov / xvar END, 9) AS slope,
         round(CASE WHEN xvar <> 0
                    THEN (sy - (cov / xvar) * sx) / m END, 9)
           AS intercept,
         round(CASE WHEN xvar <> 0 AND yvar <> 0
                    THEN cov * cov / (xvar * yvar) END, 9) AS r2
  FROM d"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve over the documents table
    (operators/corpusstats.py::vocab_growth): (checkpoint, cum_tokens,
    cum_vocab) at 10 doc-id prefixes — all-integer output, exact in
    both engines unconditionally."""
    from dbpedia_spotlight_spark.operators.corpusstats import (
        vocab_growth)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_growth(docs).orderBy("checkpoint")


def sql_vocab_growth(n: int = 10) -> str:
    return f"""
  WITH {_sql_decontam_norm()},
  toks AS (
    SELECT doc_id AS id, w FROM (
      SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm) q
    WHERE w <> ''),
  mx AS (SELECT max(id) + 1 AS span FROM toks),
  pd AS (
    SELECT CAST(floor(id * {n} / span) AS BIGINT) + 1 AS ck, w
    FROM toks, mx),
  tc AS (SELECT ck, count(*) AS t FROM pd GROUP BY 1),
  fs AS (
    SELECT ck, count(*) AS v FROM (
      SELECT w, min(ck) AS ck FROM pd GROUP BY w) q
    GROUP BY 1),
  grid AS (SELECT unnest(range(1, {n} + 1)) AS ck)
  SELECT CAST(grid.ck AS INTEGER) AS checkpoint,
         CAST(sum(coalesce(tc.t, 0)) OVER (
           ORDER BY grid.ck ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens,
         CAST(sum(coalesce(fs.v, 0)) OVER (
           ORDER BY grid.ck ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_vocab
  FROM grid
  LEFT JOIN tc ON tc.ck = grid.ck
  LEFT JOIN fs ON fs.ck = grid.ck
  ORDER BY checkpoint"""


def q_wl_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement over the co-mention graph
    (operators/graph.py::wl_colors, 3 rounds): structural role
    signatures per entity. The neighbor multiset hashes as an
    order-independent SUM of color hashes mod 2^60 (map-side
    combinable — the celebrity-safe form), so the oracle replays each
    round exactly with HUGEINT arithmetic."""
    from dbpedia_spotlight_spark.operators.graph import (
        cooccurrence_edges, wl_colors)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    return wl_colors(edges, rounds=3).orderBy("uri")


def sql_wl_roles(rounds: int = 3) -> str:
    rounds_sql = []
    for i in range(rounds):
        rounds_sql.append(f"""
  ms{i} AS (
    SELECT d.uri,
           CAST(sum(CAST(c.color AS HUGEINT))
                % (1::HUGEINT << 60) AS BIGINT) AS msum
    FROM directed d JOIN c{i} c ON c.uri = d.nbr
    GROUP BY 1),
  c{i + 1} AS MATERIALIZED (
    SELECT c.uri,
           ('0x' || substr(md5(CAST(c.color AS VARCHAR) || '#'
                               || CAST(m.msum AS VARCHAR)), 1, 15))::BIGINT
             AS color
    FROM c{i} c JOIN ms{i} m ON m.uri = c.uri)""")
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + """,
  du AS MATERIALIZED (
    SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  e0 AS MATERIALIZED (
    SELECT x.uri AS uri_a, y.uri AS uri_b
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),
  directed AS MATERIALIZED (
    SELECT uri_a AS uri, uri_b AS nbr FROM e0
    UNION ALL SELECT uri_b AS uri, uri_a AS nbr FROM e0),
  c0 AS MATERIALIZED (
    SELECT uri, ('0x' || substr(md5(CAST(count(*) AS VARCHAR)),
                                1, 15))::BIGINT AS color
    FROM directed GROUP BY uri),""" + ",".join(rounds_sql) + f"""
  SELECT uri, color FROM c{rounds} ORDER BY uri""")


def _seed_labels(n: int = 6) -> list[tuple[str, str]]:
    """Deterministic seed labeling shared by both engines: the n
    top-support entities, alternating 'L'/'R' in sorted-uri order."""
    uris = sorted(_top_support_uris(n))
    return [(u, "L" if i % 2 == 0 else "R") for i, u in enumerate(uris)]


def q_seeded_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised type propagation (operators/graph.py::
    seeded_label_propagation — Zhu-Ghahramani with clamped seeds) over
    the weighted co-mention graph, 3 rounds from 6 alternating seeds.
    Per-round probabilities re-quantize to the dyadic 2^-30 grid, so
    integer-weight products sum exactly in any order and the unrolled
    SQL replay is value-identical."""
    from dbpedia_spotlight_spark.operators.graph import (
        cooccurrence_edges, seeded_label_propagation)
    edges = cooccurrence_edges(q_annotate_prior(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    seeds = spark.createDataFrame(_seed_labels(),
                                  "uri string, label string")
    return (seeded_label_propagation(edges, seeds, n_iter=3)
            .orderBy("uri", "rank"))


def sql_seeded_types(rounds: int = 3) -> str:
    seeds = ", ".join(f"('{u}', '{l}')" for u, l in _seed_labels())
    rounds_sql = []
    for i in range(rounds):
        rounds_sql.append(f"""
  ct{i} AS (
    SELECT u.dst AS uri, s.label,
           sum(floor((u.w * s.p) * 1073741824.0 + 0.5)
               / 1073741824.0) AS sc
    FROM und u JOIN s{i} s ON s.uri = u.src
    GROUP BY 1, 2),
  tt{i} AS (SELECT uri, sum(sc) AS t FROM ct{i} GROUP BY 1),
  s{i + 1} AS MATERIALIZED (
    SELECT c.uri, c.label,
           floor((c.sc / t.t) * 1073741824.0 + 0.5) / 1073741824.0 AS p
    FROM ct{i} c JOIN tt{i} t ON t.uri = c.uri
    WHERE c.uri NOT IN (SELECT uri FROM seeds)
    UNION ALL
    SELECT uri, label, 1.0 AS p FROM seeds)""")
    return (
        "WITH " + _sql_toks() + ", " + _SQL_SPOTS + ", " + _SQL_RANKED + f""",
  du AS MATERIALIZED (
    SELECT DISTINCT doc_id, uri FROM ranked WHERE rank = 1),
  ed AS MATERIALIZED (
    SELECT x.uri AS uri_a, y.uri AS uri_b,
           CAST(count(*) AS BIGINT) AS w
    FROM du x JOIN du y ON x.doc_id = y.doc_id AND x.uri < y.uri
    GROUP BY 1, 2),
  und AS MATERIALIZED (
    SELECT uri_a AS src, uri_b AS dst, w FROM ed
    UNION ALL SELECT uri_b AS src, uri_a AS dst, w FROM ed),
  seeds AS (SELECT * FROM (VALUES {seeds}) v(uri, label)),
  s0 AS (SELECT uri, label, 1.0::DOUBLE AS p FROM seeds),"""
        + ",".join(rounds_sql) + f"""
  SELECT uri, label, p,
         CAST(row_number() OVER (
           PARTITION BY uri ORDER BY p DESC, label) AS INTEGER) AS rank
  FROM s{rounds}
  ORDER BY uri, rank""")


def q_subsample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mikolov frequent-word subsampling (operators/textstats.py::
    subsample_frequent, t=1e-3): per-word survivor counts over the
    documents token stream. The per-token coin is a salted md5 gate
    against a round-then-floor threshold (the temperature_resample
    device), so both engines keep the identical token set."""
    from dbpedia_spotlight_spark.operators.textstats import (
        subsample_frequent)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = subsample_frequent(docs, t=1e-3)
    return (kept.groupBy("word").agg(F.count("*").alias("n_kept"))
            .orderBy("word"))


def sql_subsample_tokens(t: float = 1e-3) -> str:
    return f"""
  WITH {_sql_decontam_norm()},
  toks AS (
    SELECT doc_id AS id,
           generate_subscripts(string_split(t, ' '), 1) - 1 AS pos,
           unnest(string_split(t, ' ')) AS word
    FROM norm),
  tk AS (SELECT * FROM toks WHERE word <> ''),
  freqs AS (SELECT word, count(*) AS c FROM tk GROUP BY 1),
  tot AS (SELECT sum(c) AS n FROM freqs),
  rates AS (
    SELECT word,
           floor(round(least(1.0, sqrt({t!r} * n / c)), 9)
                 * 1048576) AS thresh
    FROM freqs, tot),
  kept AS (
    SELECT tk.word FROM tk JOIN rates ON rates.word = tk.word
    WHERE ('0x' || substr(md5(tk.id || '#sub#' || tk.pos || '#'
                              || tk.word), 1, 15))::BIGINT % 1048576
          < rates.thresh)
  SELECT word, CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY 1 ORDER BY 1"""


def _sd_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted structured-data pages derived from the documents table
    (same device as the host-link fixtures): per doc an OpenGraph meta
    head + one flat JSON-LD Article node. Both engines rebuild the
    identical html strings."""
    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><meta property="og:title" content="Doc '),
        sid, F.lit('"/><meta name="inLanguage" content="'),
        F.col("lang"),
        F.lit('"/><script type="application/ld+json">{"@id": "ex:d'),
        sid, F.lit('", "@type": "Article", "wordCount": '),
        F.col("n_chars").cast("string"), F.lit(', "inLanguage": "'),
        F.col("lang"), F.lit('"}</script></head><body></body></html>'))
    return d.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".example/p"), sid).alias("url"),
        F.encode(html, "UTF-8").alias("html"))


_SD_SQL_PAGES = """
  pages AS (
    SELECT 'https://h' || (doc_id % 5) || '.example/p' || doc_id AS url,
           '<html><head><meta property="og:title" content="Doc '
           || doc_id || '"/><meta name="inLanguage" content="' || lang
           || '"/><script type="application/ld+json">{"@id": "ex:d'
           || doc_id || '", "@type": "Article", "wordCount": '
           || n_chars || ', "inLanguage": "' || lang
           || '"}</script></head><body></body></html>' AS html
    FROM documents)"""


def q_meta_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph / meta-property extraction
    (sources/structured_data.py::meta_property_triples): JVM-native
    regexp parse of <meta property|name=… content=…> tags over the
    planted pages — zero Python, zero shuffle before the final sort.
    The oracle runs the same two-level regexp in DuckDB."""
    from dbpedia_spotlight_spark.sources.structured_data import (
        meta_property_triples)
    return (meta_property_triples(_sd_pages(spark, sf_dir))
            .orderBy("url", "pred"))


def sql_meta_triples() -> str:
    return f"""
  WITH {_SD_SQL_PAGES},
  tags AS (
    SELECT url, unnest(regexp_extract_all(html,
             '(?i)<meta\\s[^>]*>', 0)) AS t
    FROM pages)
  SELECT url,
         regexp_extract(t,
           '(?i)(?:^|[\\s"''])(?:property|name)\\s*=\\s*"([^"]+)"', 1)
           AS pred,
         regexp_extract(t,
           '(?i)(?:^|[\\s"''])content\\s*=\\s*"([^"]*)"', 1) AS obj
  FROM tags
  WHERE regexp_extract(t,
          '(?i)(?:^|[\\s"''])(?:property|name)\\s*=\\s*"([^"]+)"', 1)
          <> ''
    AND regexp_extract(t,
          '(?i)(?:^|[\\s"''])content\\s*=\\s*"([^"]*)"', 1) <> ''
  ORDER BY url, pred"""


def q_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded JSON-LD extraction (sources/structured_data.py::
    jsonld_triples — the Web-Data-Commons KG source): Arrow-batched
    stdlib-json parse of the planted Article nodes; the oracle
    re-parses the same blocks with DuckDB's JSON functions, so BOTH
    engines run a real JSON parser over the same bytes."""
    from dbpedia_spotlight_spark.sources.structured_data import (
        jsonld_triples)
    return (jsonld_triples(_sd_pages(spark, sf_dir))
            .orderBy("url", "subj", "pred", "obj"))


def sql_jsonld_extract() -> str:
    return f"""
  WITH {_SD_SQL_PAGES},
  blocks AS (
    SELECT url,
           regexp_extract(html,
             '(?is)<script[^>]*type\\s*=\\s*"application/ld\\+json"'
             || '[^>]*>(.*?)</script>', 1) AS b
    FROM pages),
  node AS (
    SELECT url, json_extract_string(b, '$."@id"') AS subj, b
    FROM blocks WHERE b <> '')
  SELECT url, subj, pred, obj FROM (
    SELECT url, subj, 'rdf:type' AS pred,
           json_extract_string(b, '$."@type"') AS obj FROM node
    UNION ALL
    SELECT url, subj, 'wordCount',
           json_extract_string(b, '$.wordCount') FROM node
    UNION ALL
    SELECT url, subj, 'inLanguage',
           json_extract_string(b, '$.inLanguage') FROM node) q
  ORDER BY url, subj, pred, obj"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


# One row per (name, Spark query, DuckDB oracle) binding. The first
# REGISTERED rows are the driver registry in driver order: the driver
# checks at most the first 50 keys in order, so queries without a prior
# green CORRECTNESS row lead. The rows after them are pairs rotated out
# of the registry; they stay working and oracle-checked.
PAIRS: list[tuple[str, Callable[[SparkSession, str], DataFrame],
                  Callable[[], str]]] = [
    ("meta_triples", q_meta_triples, sql_meta_triples),
    ("jsonld_extract", q_jsonld_extract, sql_jsonld_extract),
    ("k_truss", q_k_truss, sql_k_truss),
    ("coreness", q_coreness, sql_coreness),
    ("kn_perplexity", q_kn_perplexity, sql_kn_perplexity),
    ("kmv_users", q_kmv_users, sql_kmv_users),
    ("hyperball", q_ball_sizes, sql_ball_sizes),
    ("betweenness", q_betweenness, sql_betweenness),
    ("node2vec", q_node2vec, sql_node2vec),
    ("fact_allen", q_fact_allen, sql_fact_allen),
    ("entity_summary", q_entity_summary, sql_entity_summary),
    ("type_prediction", q_type_prediction, sql_type_prediction),
    ("kg_transe", q_kg_transe, sql_kg_transe),
    ("nil_clusters", q_nil_clusters, sql_nil_clusters),
    ("fused_truth", q_fused_truth, sql_fused_truth),
    ("link_prediction", q_link_prediction, sql_link_prediction),
    ("canonical_relations", q_canonical_relations, sql_canonical_relations),
    ("mention_relations", q_mention_relations, sql_mention_relations),
    ("dsir_select", q_dsir_select, sql_dsir_select),
    ("dup_span_stats", q_dup_span_stats, sql_dup_span_stats),
    ("quality_logreg", q_quality_logreg, sql_quality_logreg),
    ("sparql_text", q_sparql_text, sql_sparql_text),
    ("shape_report", q_shape_report, sql_shape_report),
    ("owl_entail", q_owl_entail, sql_owl_entail),
    ("graph_provenance", q_graph_provenance, sql_graph_provenance),
    ("decontam_overlap", q_decontam_overlap, sql_decontam_overlap),
    ("ngram_perplexity", q_ngram_perplexity, sql_ngram_perplexity),
    ("infer_domain_range", q_infer_domain_range, sql_infer_domain_range),
    ("bgp_agg_type_counts", q_bgp_agg_type_counts, sql_bgp_agg_type_counts),
    ("pii_counts", q_pii_counts, sql_pii_counts),
    ("hash_split", q_hash_split, sql_hash_split),
    ("warc_source", q_warc_source, sql_warc_source),
    ("triple_delta", q_triple_delta, sql_triple_delta),
    ("ann_ivf", q_ann_ivf, sql_ann_ivf),
    ("dedup_components", q_dedup_components, sql_dedup_components),
    # Spotlight pipeline — relational slice (SQL-checked)
    ("annotate_confident", q_annotate_confident, sql_annotate_confident),
    ("candidates_topk", q_candidates_topk, sql_candidates_topk),
    ("link_triples", q_link_triples, sql_link_triples),
    ("entity_graph_nodes", q_entity_graph_nodes, sql_entity_graph_nodes),
    ("entity_graph_edges", q_entity_graph_edges, sql_entity_graph_edges),
    ("entity_pagerank", q_entity_pagerank, sql_entity_pagerank),
    # full fused pipeline
    ("annotate_generative", q_annotate_generative, sql_annotate_generative),
    ("annotate_typed", q_annotate_typed, sql_annotate_typed),
    ("spot_fsa", q_spot_fsa, sql_spot_fsa),
    ("model_build", q_model_build, sql_model_build),
    ("model_entities", q_model_entities, sql_model_entities),
    # training-data ops
    ("simhash_near_pairs", q_simhash_near_pairs, sql_simhash_near_pairs),
    ("jaccard_lsh_verified", q_jaccard_lsh_verified, sql_jaccard_lsh_verified),
    ("winnowing", q_winnowing, sql_winnowing),
    # similarity search
    ("near_dup_embeddings", q_near_dup_embeddings, sql_near_dup_embeddings),
    # rotated out of the registry: still oracle-checked by
    # tests/test_rotated_queries.py
    ("ann_lsh", q_ann_lsh, sql_ann_lsh),
    ("tsv_lexicon", q_tsv_lexicon, sql_tsv_lexicon),
    ("relation_signatures", q_relation_signatures, sql_relation_signatures),
    ("spotxml_disambiguate", q_spotxml_disambiguate, sql_spotxml_disambiguate),
    ("sameas_functional", q_sameas_functional, sql_sameas_functional),
    ("owl_violations", q_owl_violations, sql_owl_violations),
    ("fact_episodes", q_fact_episodes, sql_fact_episodes),
    ("fusion_trust", q_fusion_trust, sql_fusion_trust),
    ("annotate_prior", q_annotate_prior, sql_annotate_prior),
    ("spot_unigram", q_spot_unigram, sql_spot_unigram),
    ("extract_text", q_extract_text, sql_extract_text),
    ("schema_graph", q_schema_graph, sql_schema_graph),
    ("dedup_exact", q_dedup_exact, sql_dedup_exact),
    ("shortest_paths", q_shortest_paths, sql_shortest_paths),
    ("minhash_pairs", q_minhash_pairs, sql_minhash_pairs),
    ("kg_distmult", q_kg_distmult, sql_kg_distmult),
    ("harmonic_centrality", q_harmonic_centrality, sql_harmonic_centrality),
    ("jsonld_render", q_jsonld_render, sql_jsonld_render),
    ("lang_id", q_lang_id, sql_lang_id),
    ("ann_topk", q_ann_topk, sql_ann_topk),
    ("kg_complex", q_kg_complex, sql_kg_complex),
    ("kg_digest", q_kg_digest, sql_kg_digest),
    ("spot_multitoken", q_spot_multitoken, sql_spot_multitoken),
    ("quantized_uri_counts", q_quantized_uri_counts, sql_quantized_uri_counts),
    ("simhash", q_simhash, sql_simhash),
    ("jaccard_pairs", q_jaccard_pairs, sql_jaccard_pairs),
    ("ann_ivf_fixed", q_ann_ivf_fixed, sql_ann_ivf_fixed),
    ("fingerprint", q_fingerprint, sql_fingerprint),
    ("token_count", q_token_count, sql_token_count),
    ("annotate_quantized", q_annotate_quantized, sql_annotate_quantized),
    ("annotate_coref", q_annotate_coref, sql_annotate_coref),
    ("host_skew", q_host_skew, sql_host_skew),
    ("mirror_hosts", q_mirror_hosts, sql_mirror_hosts),
    ("temperature_mix", q_temperature_mix, sql_temperature_mix),
    ("dup_spans", q_dup_spans, sql_dup_spans),
    ("corpus_filter", q_corpus_filter, sql_corpus_filter),
    ("quality", q_quality, sql_quality),
    ("bm25_rank", q_bm25_rank, sql_bm25_rank),
    ("chunk_windows", q_chunk_windows, sql_chunk_windows),
    ("clean_boilerplate", q_clean_boilerplate, sql_clean_boilerplate),
    ("anchor_lexicon", q_anchor_lexicon, sql_anchor_lexicon),
    ("charset_sniff", q_charset_sniff, sql_charset_sniff),
    ("robots_gate", q_robots_gate, sql_robots_gate),
    ("ntriples", q_ntriples, sql_ntriples),
    ("ntriples_roundtrip", q_ntriples_roundtrip, sql_ntriples_roundtrip),
    ("turtle_render", q_turtle_render, sql_turtle_render),
    ("sitemap_frontier", q_sitemap_frontier, sql_sitemap_frontier),
    ("kg_stats", q_kg_stats, sql_kg_stats),
    ("entity_neighbors", q_entity_neighbors, sql_entity_neighbors),
    ("fetch_rounds", q_fetch_rounds, sql_fetch_rounds),
    ("type_triples", q_type_triples, sql_type_triples),
    ("infer_types", q_infer_types, sql_infer_types),
    ("bgp_typed_mentions", q_bgp_typed_mentions, sql_bgp_typed_mentions),
    ("bgp_path_supertypes", q_bgp_path_supertypes, sql_bgp_path_supertypes),
    ("kg_type_cardinality", q_kg_type_cardinality, sql_kg_type_cardinality),
    ("construct_mention_types", q_construct_mention_types,
     sql_construct_mention_types),
    ("bgp_optional_types", q_bgp_optional_types, sql_bgp_optional_types),
    ("bgp_union_mentions", q_bgp_union_mentions, sql_bgp_union_mentions),
    ("bgp_values_minus", q_bgp_values_minus, sql_bgp_values_minus),
    ("entity_triangles", q_entity_triangles, sql_entity_triangles),
    ("wiki_links", q_wiki_links, sql_wiki_links),
    ("entity_salience", q_entity_salience, sql_entity_salience),
    ("entity_walks", q_entity_walks, sql_entity_walks),
    ("walk_skipgrams", q_walk_skipgrams, sql_walk_skipgrams),
    ("cms_counts", q_cms_counts, sql_cms_counts),
    ("owl_chains", q_owl_chains, sql_owl_chains),
    ("owl_restrictions", q_owl_restrictions, sql_owl_restrictions),
    ("host_hits", q_host_hits, sql_host_hits),
    ("uri_counts", q_uri_counts, sql_uri_counts),
    ("pair_counts", q_pair_counts, sql_pair_counts),
    ("bgp_select_page", q_bgp_select_page, sql_bgp_select_page),
    ("bgp_sequence_path", q_bgp_sequence_path, sql_bgp_sequence_path),
    ("bgp_not_exists", q_bgp_not_exists, sql_bgp_not_exists),
    ("mention_contexts", q_mention_contexts, sql_mention_contexts),
    ("describe_entity", q_describe_entity, sql_describe_entity),
    ("ppr_related", q_ppr_related, sql_ppr_related),
    ("lpa_communities", q_lpa_communities, sql_lpa_communities),
    ("pmi_edges", q_pmi_edges, sql_pmi_edges),
    ("candidates_generative", q_candidates_generative,
     sql_candidates_generative),
    ("model_token_counts", q_model_token_counts, sql_model_token_counts),
    ("vocab_counts", q_vocab_counts, sql_vocab_counts),
    ("hll_users", q_hll_users, sql_hll_users),
    ("text_embeddings", q_text_embeddings, sql_text_embeddings),
    ("bloom_seen", q_bloom_seen, sql_bloom_seen),
    ("pack_sequences", q_pack_sequences, sql_pack_sequences),
    ("line_dedup", q_line_dedup, sql_line_dedup),
    ("er_sameas", q_er_sameas, sql_er_sameas),
    ("kg_embed_examples", q_kg_embed_examples, sql_kg_embed_examples),
    ("update_migrate", q_update_migrate, sql_update_migrate),
    ("ranking_eval", q_ranking_eval, sql_ranking_eval),
    ("sf_totals", q_sf_totals, sql_sf_totals),
    ("entity_provenance", q_entity_provenance, sql_entity_provenance),
    ("redirect_closure", q_redirect_closure, sql_redirect_closure),
    ("annotate_stemmed", q_annotate_stemmed, sql_annotate_stemmed),
    ("annotate_tficf", q_annotate_tficf, sql_annotate_tficf),
    ("latest_capture", q_latest_capture, sql_latest_capture),
    ("canonical_urls", q_canonical_urls, sql_canonical_urls),
    ("salted_user_topk", q_salted_user_topk, sql_salted_user_topk),
    ("fact_windows", q_fact_windows, sql_fact_windows),
    ("spot_npchunk", q_spot_npchunk, sql_spot_npchunk),
    ("quality_gopher", q_quality_gopher, sql_quality_gopher),
    ("seeded_types", q_seeded_types, sql_seeded_types),
    ("subsample_tokens", q_subsample_tokens, sql_subsample_tokens),
    ("wl_roles", q_wl_roles, sql_wl_roles),
    ("zipf_fit", q_zipf_fit, sql_zipf_fit),
    ("vocab_growth", q_vocab_growth, sql_vocab_growth),
    ("modularity", q_modularity, sql_modularity),
    ("assortativity", q_assortativity, sql_assortativity),
    ("priority_sample", q_priority_sample, sql_priority_sample),
]
REGISTERED = 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver registry: the first REGISTERED rows of PAIRS."""
    return {name: q for name, q, _ in PAIRS[:REGISTERED]}


def oracle_sql() -> dict[str, str]:
    """Oracle SQL for queries(), with the same keys in the same order."""
    return {name: sql() for name, _, sql in PAIRS[:REGISTERED]}
