"""Open relation extraction between co-mentioned entities.

The KG so far carries (mention, itsrdf:taIdentRef, entity) link triples
and co-mention edges; this operator adds RELATION CANDIDATES between
entities: for every pair of ADJACENT mentions in a document (no third
mention between them — adjacency in offset order gives that for free),
the normalized token span between them becomes a candidate predicate
surface, and (subj_uri, predicate, obj_uri) candidates aggregate into a
counted relation table — the ReVerb/OLLIE shape without a POS tagger
(no tagger exists in this sandbox): the deterministic gates are a
bounded character gap, no sentence punctuation inside the span, a
bounded token count, and distinct endpoint entities. Downstream, high-n
rows are the open-IE edges a curator would promote to typed KG
predicates.

Scale shape (100 TB):

- One shuffle of MENTION rows (begin/end/uri — tens of bytes each)
  groups them into per-doc sorted arrays; document text is NOT in that
  shuffle.
- One doc-keyed join co-locates the mention array with the text.
  Bucketing both sides by doc_id makes it exchange-free; mentions
  produced in the same job can simply keep the annotate output's
  partitioning.
- Pair building, span slicing, normalization and all gates run inside
  whole-stage codegen (sequence/transform/filter/substr — zero UDFs);
  the only strings that leave the document row are the ≤ ``max_gap``-
  char predicate surfaces.
- The final aggregate is two map-side-combinable hash aggregations
  ((s,pred,o,doc) then (s,pred,o)) — no window, no sort; skewed
  predicates ("of", "and") stay safe because the key includes both
  entity URIs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def doc_relation_occurrences(mentions: DataFrame, docs: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             max_gap: int = 80,
                             max_pred_tokens: int = 4) -> DataFrame:
    """(id_col, subj_uri, predicate, obj_uri, n) — relation occurrence
    counts PER DOCUMENT, the building block of both the batch rollup
    (``extract_relations``) and the counting-IVM state
    (``maintain_relations``).

    ``mentions``: (id_col, begin, end, uri) with the repo-wide offset
    convention (0-based char offsets, end exclusive — SURVEY §2.8), at
    most one mention per begin (disambiguated output). ``docs``:
    (id_col, text_col). A pair qualifies when the second mention starts
    after the first ends, the gap is in (0, max_gap] chars, the span
    contains no sentence punctuation ([.!?;:]), its whitespace-collapsed
    lowercase form has 1..max_pred_tokens tokens, and the two entity
    URIs differ."""
    ms = (mentions
          .groupBy(F.col(id_col).alias("_id"))
          .agg(F.array_sort(F.collect_list(
              F.struct(F.col("begin").alias("b"),
                       F.col("end").alias("e"),
                       F.col("uri").alias("u")))).alias("ms")))
    j = (docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
         .join(ms, "_id"))
    # adjacent pairs -> predicate surface, all inside codegen; the
    # sequence() guard matters: Spark's sequence(0, -1) DESCENDS, so a
    # 1-mention doc must yield an empty array explicitly
    pairs = F.when(F.size("ms") >= 2, F.expr(f"""
        filter(
          transform(sequence(0, size(ms) - 2), i -> named_struct(
            's', ms[i].u, 'o', ms[i + 1].u,
            'pred', regexp_replace(trim(lower(
                substr(_t, ms[i].e + 1, ms[i + 1].b - ms[i].e))),
                '\\\\s+', ' '),
            'gap', ms[i + 1].b - ms[i].e)),
          p -> p.gap > 0 AND p.gap <= {int(max_gap)}
               AND p.s != p.o AND p.pred != ''
               AND NOT p.pred rlike '[.!?;:]'
               AND size(split(p.pred, ' ')) <= {int(max_pred_tokens)})
    """)).otherwise(F.array().cast(
        "array<struct<s:string,o:string,pred:string,gap:int>>"))
    occ = (j.select(F.col("_id"), F.explode(pairs).alias("p"))
           .select("_id", F.col("p.s").alias("subj_uri"),
                   F.col("p.pred").alias("predicate"),
                   F.col("p.o").alias("obj_uri")))
    return (occ.groupBy("subj_uri", "predicate", "obj_uri", "_id")
            .agg(F.count("*").cast("long").alias("n"))
            .select(F.col("_id").alias(id_col), "subj_uri",
                    "predicate", "obj_uri", "n"))


def rollup_relations(doc_rel: DataFrame,
                     min_count: int = 1) -> DataFrame:
    """Corpus-level (subj_uri, predicate, obj_uri, n, n_docs) from the
    per-doc occurrence table — one map-side-combinable aggregate
    (every doc_rel row is one doc's contribution, so count(*) IS
    n_docs)."""
    out = (doc_rel.groupBy("subj_uri", "predicate", "obj_uri")
           .agg(F.sum("n").alias("n"),
                F.count("*").cast("long").alias("n_docs")))
    if min_count > 1:
        out = out.filter(F.col("n") >= min_count)
    return out


def extract_relations(mentions: DataFrame, docs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_gap: int = 80, max_pred_tokens: int = 4,
                      min_count: int = 1) -> DataFrame:
    """(subj_uri, predicate, obj_uri, n, n_docs) relation candidates —
    the one-shot batch form: ``doc_relation_occurrences`` rolled up by
    ``rollup_relations`` (see those for parameter semantics). ``n``
    counts occurrences, ``n_docs`` distinct documents; rows below
    ``min_count`` occurrences are dropped."""
    return rollup_relations(
        doc_relation_occurrences(mentions, docs, id_col, text_col,
                                 max_gap, max_pred_tokens),
        min_count)


def maintain_relations(doc_rel: DataFrame, touched: DataFrame,
                       new_mentions: DataFrame, new_docs: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       max_gap: int = 80, max_pred_tokens: int = 4
                       ) -> tuple[DataFrame, DataFrame]:
    """Counting-IVM maintenance of the per-doc relation state over a
    document delta (recrawl/update/delete) — the relations twin of
    ``graph.maintain_comention``. ``doc_rel`` is the live
    ``doc_relation_occurrences`` state; ``touched`` carries the ids of
    every document that changed IN ANY WAY (updated, deleted, or new);
    ``new_mentions``/``new_docs`` carry the post-change mentions and
    text of the touched documents that still exist (deleted docs simply
    absent). Returns ``(new_doc_rel, crossing)`` where crossing lists
    (id, subj_uri, predicate, obj_uri, change ∈ added|removed) — the
    per-doc appearance delta a downstream store can fold into its own
    rollup. ``rollup_relations(new_doc_rel)`` ≡ the full recompute
    (pytest-pinned, randomized edits).

    Cost ∝ touched documents (old contributions anti'd out by signed
    counts, new contributions recomputed only for touched docs) —
    never a corpus rescan. The merge is one full-outer join on the
    (id, s, pred, o) key — co-partitionable with a bucketed state."""
    from dbpedia_spotlight_spark.operators.ontology import _merge_counts
    t = touched.select(F.col(id_col)).distinct()
    old = (doc_rel.join(t, id_col, "left_semi")
           .select(id_col, "subj_uri", "predicate", "obj_uri",
                   (-F.col("n")).alias("dw")))
    new = (doc_relation_occurrences(
               new_mentions.join(t, id_col, "left_semi"),
               new_docs.join(t, id_col, "left_semi"),
               id_col, text_col, max_gap, max_pred_tokens)
           .select(id_col, "subj_uri", "predicate", "obj_uri",
                   F.col("n").alias("dw")))
    delta = (old.unionByName(new)
             .groupBy(id_col, "subj_uri", "predicate", "obj_uri")
             .agg(F.sum("dw").alias("dw")))
    return _merge_counts(doc_rel, delta,
                         [id_col, "subj_uri", "predicate", "obj_uri"],
                         "n")


def relation_signatures(relations: DataFrame, types: DataFrame,
                        default_type: str = "Thing") -> DataFrame:
    """Schema induction over the relation table: lift (subj_uri,
    predicate, obj_uri, n, n_docs) to TYPE signatures
    (subj_type, predicate, obj_type, n, n_docs) — the distribution a
    curator reads to decide which predicate surfaces become typed KG
    properties (e.g. 'is the capital of' concentrating on
    Place×Place). ``types``: (uri, type) — one row per type assertion;
    an entity with k_s × k_o type pairs contributes its counts to every
    pair (standard multi-typing semantics). Untyped entities fall back
    to ``default_type`` so mass is never silently dropped.

    Both joins broadcast the ontology-sized type table; the aggregate
    is map-side combinable. n_docs sums the per-pair doc counts — an
    UPPER bound per signature (the same doc can back two entity pairs
    with the same signature); exact distinct-doc counting would need
    the doc-level table, and the signature read is a ranking, not an
    exactness contract (documented here so nobody 'fixes' it into an
    extra corpus-wide distinct)."""
    t = types.select(F.col("uri"), F.col("type"))
    out = (relations
           .join(F.broadcast(t.withColumnRenamed("type", "_st")),
                 relations["subj_uri"] == t["uri"], "left")
           .drop("uri")
           .join(F.broadcast(t.withColumnRenamed("type", "_ot")),
                 relations["obj_uri"] == t["uri"], "left")
           .drop("uri")
           .select(F.coalesce("_st", F.lit(default_type))
                   .alias("subj_type"),
                   "predicate",
                   F.coalesce("_ot", F.lit(default_type))
                   .alias("obj_type"),
                   "n", "n_docs"))
    return (out.groupBy("subj_type", "predicate", "obj_type")
            .agg(F.sum("n").alias("n"),
                 F.sum("n_docs").alias("n_docs")))


def canonicalize_relations(doc_rel: DataFrame, labels: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """owl:sameAs canonicalization of the per-doc relation state — the
    relation-table twin of ``triples.canonicalize_triples``: both
    endpoint URIs are rewritten to their equivalence class's canonical
    member, so relation evidence split across entity aliases merges.

    ``labels``: (id, comp) canonical map — ``connected_components``
    output over the sameAs graph, or ``SameasStore.read_labels()``;
    absence means self-canonical (only edge-incident entities carry
    rows). Pairs whose endpoints collapse to the SAME canonical entity
    are dropped — the batch extractor's distinct-endpoint gate
    (``doc_relation_occurrences``), re-applied post-merge: a "relation"
    between two names of one entity is an extraction artifact.

    Operates on the PER-DOC table (not the rollup) so that
    ``rollup_relations`` over the result gives EXACT n_docs — merging
    at the corpus level would overcount documents that back two
    pre-image alias pairs of the same canonical pair.

    Scale: the canonical map is sameAs-graph-sized (tiny next to the
    relation table) → two broadcast joins; the re-aggregate is
    map-side combinable on the same key family the state is stored
    under."""
    canon = labels.select("id", F.col("comp").alias("canon"))
    out = doc_rel
    for pos in ("subj_uri", "obj_uri"):
        out = (out.join(F.broadcast(canon.withColumnRenamed("id", pos)),
                        pos, "left")
               .withColumn(pos, F.coalesce("canon", pos)).drop("canon"))
    return (out.filter(F.col("subj_uri") != F.col("obj_uri"))
            .groupBy(id_col, "subj_uri", "predicate", "obj_uri")
            .agg(F.sum("n").alias("n")))


def relation_triples(relations: DataFrame,
                     min_docs: int = 2) -> DataFrame:
    """Promote counted relation candidates to (subj, pred, obj) triple
    shape for the KG write path: predicate surfaces become
    ``rel:<slugified-surface>`` URIs, gated on ``n_docs >= min_docs``
    (a relation asserted by one document is an extraction artifact
    until corroborated). Pure projection + filter."""
    slug = F.concat(F.lit("rel:"),
                    F.regexp_replace(F.col("predicate"), " ", "_"))
    return (relations.filter(F.col("n_docs") >= min_docs)
            .select(F.col("subj_uri").alias("subj"),
                    slug.alias("pred"),
                    F.col("obj_uri").alias("obj"),
                    "n", "n_docs"))
