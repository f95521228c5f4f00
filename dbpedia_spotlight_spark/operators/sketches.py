"""Mergeable cardinality sketches (HyperLogLog) as pure relational
algebra — the 100 TB answer to "distinct users/urls per key, daily,
without ever rescanning history".

A sketch here is an ordinary DataFrame keyed (key…, bucket) with the
register value ``rho`` — so *merge is just union + max*, the same
map-side-combinable aggregate Spark already optimizes, and a day's
sketch table is thousands of rows per key instead of millions of raw
ids. Properties the tests pin:

- **exactly mergeable**: sketch(A ∪ B) ≡ merge(sketch(A), sketch(B))
  row-for-row (max is associative/commutative/idempotent — re-delivered
  partitions can't corrupt a register),
- **deterministic + cross-engine**: the hash is the repo-standard 60-bit
  md5 prefix (``dedup.md5_long``), the register is derived with string
  ``bin()`` length (no float log2 at bit boundaries), and the estimator
  sums registers in EXACT integer space (DECIMAL(38,0) here, HUGEINT in
  the DuckDB oracle) before the single double division — so the
  estimate value-hashes identically across engines,
- standard HLL accuracy: ~1.04/√m relative error (Flajolet et al. 2007),
  with the small-range linear-counting correction below 2.5·m.

Scale shape: one shuffle keyed (key, bucket) with partial max upstream;
the estimate pass is one more combinable aggregate over ≤ 2^p rows per
key. No UDFs, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import md5_long

HASH_BITS = 60  # md5_long's width; registers count leading zeros below p


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_sketch(df: DataFrame, key_cols: list[str], item_col: str,
               p: int = 12) -> DataFrame:
    """Build the register table: (key…, bucket, rho) with one row per
    NON-ZERO register. bucket = top ``p`` hash bits; rho = leading-zero
    count of the remaining ``60-p`` bits + 1 (∈ [1, 61-p])."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    w_bits = HASH_BITS - p
    df = df.filter(F.col(item_col).isNotNull())  # COUNT(DISTINCT) skips
    # nulls; an unfiltered null would add a (null, null) register row
    # that inflates n_present without contributing to the sum
    h = md5_long(F.col(item_col).cast("string"))
    bucket = F.shiftright(h, w_bits).cast("int")
    w = h.bitwiseAND(F.lit((1 << w_bits) - 1))
    # bit_length via the bin() string — exact at power-of-two
    # boundaries where float log2 can misround
    rho = F.when(w == 0, F.lit(w_bits + 1)) \
        .otherwise(F.lit(w_bits + 1) - F.length(F.bin(w))).cast("int")
    return (df.select(*key_cols, bucket.alias("bucket"), rho.alias("rho"))
              .groupBy(*key_cols, "bucket")
              .agg(F.max("rho").alias("rho")))


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union + keyed max — the whole merge. Register tables from any
    partitioning of the data (days, crawls, partitions) combine into
    the sketch of the union, exactly."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c not in ("rho",)]
    return out.groupBy(*keys).agg(F.max("rho").alias("rho"))


def hll_count(sketch: DataFrame, key_cols: list[str],
              p: int = 12) -> DataFrame:
    """Estimate per key: (key…, est). Integer-exact register sum
    (absent registers contribute 2^60 each), then ONE double division;
    linear-counting correction below 2.5·m. ``est`` is rounded to 4dp —
    the cross-engine float contract."""
    m = 1 << p
    w_bits = HASH_BITS - p
    alpha = _alpha(m)
    # per-register integer weight 2^(60-p-rho+p) = 2^(60-rho)… careful:
    # register value M_j = rho (max); its estimator term is 2^(-M_j);
    # scaled by 2^60 that's shiftleft(1, 60 - M_j), which fits a long
    # (M_j >= 1). Absent registers (M=0) contribute 2^60, added below.
    g = (sketch
         .groupBy(*key_cols)
         .agg(F.count("*").alias("n_present"),
              F.sum(F.expr(f"CAST(shiftleft(1L, {HASH_BITS} - rho) "
                           "AS DECIMAL(38,0))")).alias("s_present")))
    two60 = F.lit(1 << HASH_BITS).cast("decimal(38,0)")
    s_int = (F.col("s_present")
             + (F.lit(m) - F.col("n_present")).cast("decimal(38,0)") * two60)
    e_raw = F.lit(alpha * m * m * float(1 << HASH_BITS)) \
        / s_int.cast("double")
    zeros = F.lit(m) - F.col("n_present")
    est = F.when((e_raw <= 2.5 * m) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))) \
        .otherwise(e_raw)
    return g.select(*key_cols, F.round(est, 4).alias("est"))


def distinct_count_approx(df: DataFrame, key_cols: list[str],
                          item_col: str, p: int = 12) -> DataFrame:
    """sketch + estimate in one call — approximate COUNT(DISTINCT item)
    per key with ~1.04/√2^p relative error and a mergeable
    intermediate."""
    return hll_count(hll_sketch(df, key_cols, item_col, p), key_cols, p)


# ---------------------------------------------------------------------------
# Bloom filter — mergeable membership (the crawl-frontier "seen set")

WORD_BITS = 60  # bits packed per word row; 60 keeps every mask positive
                # in a signed 64-bit long on BOTH engines (1<<63 is the
                # sign bit in Spark and an overflow hazard in DuckDB)


def _bloom_positions(item_col, m_bits: int, k: int) -> F.Column:
    """array of the k bit positions for an item: the j-th position is
    the repo-standard 60-bit md5 of 'item#j' mod m."""
    return F.array(*[
        (md5_long(F.concat_ws("#", F.col(item_col).cast("string"),
                              F.lit(str(j)))) % m_bits)
        for j in range(k)
    ])


def bloom_build(df: DataFrame, item_col: str, m_bits: int = 1 << 20,
                k: int = 5) -> DataFrame:
    """Build the packed word table (word, bits) — one row per non-zero
    60-bit word. ONE explode + ONE map-side-combinable bit_or keyed on
    the word index; merge across days/crawls = union + bit_or (same
    idempotent-fold contract as the HLL registers). False-positive rate
    ≈ (1 − e^(−k·n/m))^k; never false-negative. ``m_bits`` need not
    align to the word width — the last word is simply part-used."""
    if m_bits < WORD_BITS:
        raise ValueError(f"m_bits must be >= {WORD_BITS}")
    pos = F.explode(_bloom_positions(item_col, m_bits, k)).alias("pos")
    return (df.select(pos)
              .select((F.col("pos") / WORD_BITS).cast("long").alias("word"),
                      F.expr(f"shiftleft(1L, CAST(pos % {WORD_BITS} "
                             "AS INT))").alias("mask"))
              .groupBy("word")
              .agg(F.expr("bit_or(mask)").alias("bits")))


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """union + keyed bit_or — the whole merge (associative, idempotent)."""
    if not blooms:
        raise ValueError("need at least one bloom")
    out = blooms[0]
    for b in blooms[1:]:
        out = out.unionByName(b)
    return out.groupBy("word").agg(F.expr("bit_or(bits)").alias("bits"))


def bloom_contains(df: DataFrame, bloom: DataFrame, item_col: str,
                   m_bits: int = 1 << 20, k: int = 5) -> DataFrame:
    """Adds ``maybe_seen``: true iff ALL k probe bits are set. The word
    table is filter-sized (≤ m/60 rows) and broadcasts; the probe is k
    word lookups per row + one item-keyed combinable min — a seen-set
    gate for crawl frontiers that never shuffles the frontier's payload
    columns (probe on ids, semi-join back)."""
    probes = (df.select(F.col(item_col).alias("_item"))
                .distinct()
                .select("_item",
                        F.explode(_bloom_positions("_item", m_bits, k))
                        .alias("pos"))
                .select("_item",
                        (F.col("pos") / WORD_BITS).cast("long").alias("word"),
                        F.expr(f"shiftleft(1L, CAST(pos % {WORD_BITS} "
                               "AS INT))").alias("mask")))
    hit = (probes.join(F.broadcast(bloom), "word", "left")
           .select("_item",
                   F.when(F.coalesce(F.col("bits"), F.lit(0))
                          .bitwiseAND(F.col("mask")) == F.col("mask"), 1)
                   .otherwise(0).alias("ok"))
           .groupBy("_item")
           .agg((F.min("ok") == 1).alias("maybe_seen")))
    return df.join(hit.withColumnRenamed("_item", item_col),
                   item_col, "left")


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable frequency estimation (Cormode & Muthu 2005)
# ---------------------------------------------------------------------------

def _cms_positions(item_col, d: int, w: int) -> F.Column:
    """d (row, col) cells per item: col_i = md5("i:" + item) % w —
    the repo-standard cross-engine hash family, one literal salt per
    row."""
    return F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            F.pmod(md5_long(F.concat(F.lit(f"{i}:"),
                                     F.col(item_col).cast("string"))),
                   F.lit(w)).cast("int").alias("col"))
        for i in range(d)])


def cms_sketch(df: DataFrame, key_cols: list[str], item_col: str,
               d: int = 4, w: int = 1024,
               weight_col: str | None = None) -> DataFrame:
    """Count-min register table (key…, row, col, cnt) — the frequency
    twin of ``hll_sketch``: per-item counts over a 10^12-row stream
    compress to ≤ d·w cells per key, queries overestimate by ≤ ε·N
    with ε = e/w at confidence 1−(1/2)^d, and the whole build is ONE
    map-side-combinable sum keyed (key…, row, col).

    Merge semantics differ from HLL/Bloom and are the caller's
    contract to respect: counts are ADDITIVE (union + sum), so merging
    is exact for DISJOINT inputs (daily slices) but re-delivering the
    same slice double-counts — idempotence needs the generation
    discipline the stores in streaming/kg_stream.py provide, whereas
    HLL max / Bloom or shrug off replays."""
    df = df.filter(F.col(item_col).isNotNull())
    wcol = F.col(weight_col) if weight_col else F.lit(1)
    return (df.select(*key_cols,
                      F.explode(_cms_positions(item_col, d, w)).alias("p"),
                      wcol.alias("w"))
            .groupBy(*key_cols, F.col("p.row").alias("row"),
                     F.col("p.col").alias("col"))
            .agg(F.sum("w").alias("cnt")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """union + sum — exact for disjoint slices (see cms_sketch)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    group = [c for c in out.columns if c != "cnt"]
    return out.groupBy(*group).agg(F.sum("cnt").alias("cnt"))


def cms_query(sketch: DataFrame, items: DataFrame, item_col: str,
              key_cols: list[str] | None = None,
              d: int = 4, w: int = 1024) -> DataFrame:
    """Point-frequency estimates: (key…, item, est) with est = min over
    the item's d cells (absent cell = 0 — the item was never counted
    into that row). Estimates are one-sided: est ≥ true count, exact
    when no collision hit all d rows. One broadcast-scale join per
    query batch (the sketch is ≤ d·w rows per key)."""
    key_cols = key_cols or []
    q = (items.select(*key_cols, F.col(item_col).alias("item"))
         .distinct()
         .select(*key_cols, "item",
                 F.explode(_cms_positions("item", d, w)).alias("p"))
         .select(*key_cols, "item", F.col("p.row").alias("row"),
                 F.col("p.col").alias("col")))
    joined = q.join(sketch, [*key_cols, "row", "col"], "left") \
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
    return (joined.groupBy(*key_cols, "item")
            .agg(F.min("cnt").alias("est")))


# ---------------------------------------------------------------------------
# KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002; Beyer et al.
# 2007's unbiased (k−1)/U_(k) estimator). Complements HLL: same
# "mergeable rows, no UDFs" shape, but the sketch IS a coordinated
# uniform sample of the key's distinct items — so beyond cardinality it
# supports distinct-item sampling and set-overlap estimation between
# keys/days (identical hash ⇒ identical sample membership everywhere).
# ---------------------------------------------------------------------------

KMV_SALTS = 32  # first-pass salt fan-out; see kmv_sketch scale note


def kmv_sketch(df: DataFrame, key_cols: list[str], item_col: str,
               k: int = 256) -> DataFrame:
    """Bottom-k sketch per key: the k smallest distinct 60-bit md5
    hashes of ``item_col``, one row per (key…, item, h) — rows, not a
    blob, so merge stays pure relational algebra and the item column
    rides along as the uniform distinct-sample.

    Scale shape: distinct-by-hash first (map-side combinable), then
    bottom-k in TWO window passes — per (key, h % KMV_SALTS) salt
    group, then per key over the surviving ≤ KMV_SALTS·k rows. The
    salted first pass keeps any single sort partition at ~1/32 of a
    mega-key's distinct mass (spill-bounded, same rationale as the
    skew-salting utilities); the second pass touches a bounded row
    count per key by construction. No collect_set state — a
    billion-distinct key never materializes a billion-entry aggregate
    buffer anywhere."""
    h = md5_long(F.col(item_col).cast("string"))
    d = (df.select(*key_cols, F.col(item_col).alias("item"),
                   h.alias("h"))
         .dropDuplicates([*key_cols, "h"]))
    from pyspark.sql import Window
    w1 = Window.partitionBy(*key_cols, (F.col("h") % KMV_SALTS)) \
        .orderBy("h")
    w2 = Window.partitionBy(*key_cols).orderBy("h")
    return (d.withColumn("rn", F.row_number().over(w1))
            .filter(F.col("rn") <= k).drop("rn")
            .withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= k).drop("rn"))


def kmv_merge(*sketches: DataFrame, key_cols: list[str],
              k: int = 256) -> DataFrame:
    """Union + re-bottom-k: kmv(A ∪ B) ≡ kmv_merge(kmv(A), kmv(B))
    row-for-row (the k smallest of a union are among each side's k
    smallest; idempotent under re-delivery like every sketch here).
    Input rows are ≤ k per key per side, so one window pass suffices."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    from pyspark.sql import Window
    out = out.dropDuplicates([*key_cols, "h"])
    w = Window.partitionBy(*key_cols).orderBy("h")
    return (out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def kmv_count(sketch: DataFrame, key_cols: list[str],
              k: int = 256) -> DataFrame:
    """Distinct-count estimates (key…, est) from a bottom-k sketch.
    Below k observed hashes the sketch holds EVERY distinct hash and
    the count is exact; at capacity the Beyer et al. estimator
    (k−1)·2^60 / h_(k) applies (h_(k) = the largest retained hash =
    the k-th order statistic). Integer inputs, ONE double division,
    round(4) — value-hash identical across engines, like the HLL
    estimator contract."""
    space = float(1 << HASH_BITS)
    return (sketch.groupBy(*key_cols)
            .agg(F.count("*").alias("n"), F.max("h").alias("hk"))
            .select(*key_cols,
                    F.round(
                        F.when(F.col("n") < k, F.col("n").cast("double"))
                        .otherwise(F.lit(float(k - 1)) * F.lit(space)
                                   / F.col("hk").cast("double")),
                        4).alias("est")))

