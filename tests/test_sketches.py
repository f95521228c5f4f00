"""HyperLogLog sketch operator (round-4 session-8): mergeability is
exact, estimates hit the published error bound, everything stays
JVM-side. Cross-engine value parity lives in test_rotated_queries."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, functions as F

from dbpedia_spotlight_spark.operators import sketches as sk


def _ids(spark, n, card, key="a", seed=7):
    rnd = random.Random(seed)
    return spark.createDataFrame(
        [Row(k=key, item=str(rnd.randrange(card))) for _ in range(n)])


def test_estimate_within_error_bound(spark):
    df = _ids(spark, 60_000, 50_000)
    exact = df.select(F.countDistinct("item")).first()[0]
    est = sk.distinct_count_approx(df, ["k"], "item", p=12).first()["est"]
    # published bound 1.04/sqrt(4096) ≈ 1.6%; allow 3 sigma
    assert abs(est - exact) / exact < 0.05


def test_small_range_linear_counting(spark):
    df = spark.createDataFrame([Row(k="b", item=str(i)) for i in range(40)])
    est = sk.distinct_count_approx(df, ["k"], "item", p=12).first()["est"]
    assert abs(est - 40) / 40 < 0.10


def test_merge_is_exact_and_idempotent(spark):
    df = _ids(spark, 20_000, 30_000)
    h1 = df.filter(F.crc32("item") % 2 == 0)
    h2 = df.filter(F.crc32("item") % 2 == 1)
    whole = sk.hll_sketch(df, ["k"], "item", p=10) \
        .orderBy("bucket").collect()
    merged = sk.hll_merge(sk.hll_sketch(h1, ["k"], "item", p=10),
                          sk.hll_sketch(h2, ["k"], "item", p=10)) \
        .orderBy("bucket").collect()
    assert whole == merged
    # max is idempotent: re-merging a sketch with itself changes nothing
    s = sk.hll_sketch(df, ["k"], "item", p=10)
    again = sk.hll_merge(s, s).orderBy("bucket").collect()
    assert whole == again


def test_multi_key_estimates_track_exact(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type")
               .agg(F.countDistinct("user_id").alias("n")).collect()}
    est = {r["event_type"]: r["est"] for r in
           sk.distinct_count_approx(ev, ["event_type"], "user_id", p=8)
             .collect()}
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) / exact[k] < 0.2, (k, e, exact[k])


def test_sketch_is_udf_free_with_partial_agg(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = sk.distinct_count_approx(ev, ["event_type"], "user_id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "InPandas" not in plan
    # both aggregates are partial before their exchange
    assert plan.count("partial_") >= 2


def test_p_out_of_range_raises(spark):
    ev = spark.createDataFrame([Row(k="a", item="x")])
    with pytest.raises(ValueError):
        sk.hll_sketch(ev, ["k"], "item", p=30)


# --------------------------------------------------------------- bloom --

def test_bloom_never_false_negative_and_fpr_in_range(spark):
    seen = spark.createDataFrame(
        [Row(u=f"https://h{i % 13}.org/p{i}") for i in range(5000)])
    fresh = spark.createDataFrame(
        [Row(u=f"https://new{i}.org/x{i}") for i in range(5000)])
    bloom = sk.bloom_build(seen, "u", m_bits=1 << 16, k=5)
    got = sk.bloom_contains(seen, bloom, "u", m_bits=1 << 16, k=5)
    assert got.filter("NOT maybe_seen").count() == 0   # hard guarantee
    fp = sk.bloom_contains(fresh, bloom, "u", m_bits=1 << 16, k=5) \
        .filter("maybe_seen").count()
    # theory: (1-e^(-kn/m))^k ≈ 0.32% → 16 of 5000; allow generous 4x
    assert fp < 64


def test_bloom_merge_equals_whole_and_is_idempotent(spark):
    seen = spark.createDataFrame(
        [Row(u=f"u{i}") for i in range(2000)])
    h1 = seen.filter("u LIKE 'u1%'")
    h2 = seen.filter("u NOT LIKE 'u1%'")
    whole = sk.bloom_build(seen, "u", 1 << 16, 5).orderBy("word").collect()
    merged = sk.bloom_merge(sk.bloom_build(h1, "u", 1 << 16, 5),
                            sk.bloom_build(h2, "u", 1 << 16, 5)) \
        .orderBy("word").collect()
    assert whole == merged
    b = sk.bloom_build(seen, "u", 1 << 16, 5)
    assert sk.bloom_merge(b, b).orderBy("word").collect() == whole


def test_bloom_frontier_gate_is_broadcast(spark):
    seen = spark.createDataFrame([Row(u=f"u{i}") for i in range(500)])
    bloom = sk.bloom_build(seen, "u", 1 << 16, 5)
    plan = sk.bloom_contains(seen, bloom, "u", 1 << 16, 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan and "InPandas" not in plan


def test_bloom_m_bits_validation(spark):
    seen = spark.createDataFrame([Row(u="x")])
    with pytest.raises(ValueError):
        sk.bloom_build(seen, "u", m_bits=32)


def test_hll_ignores_null_items_like_count_distinct(spark):
    """Regression (session-8 review): null items must not create a
    null register that skews the estimate."""
    rows = [Row(k="a", item=str(i)) for i in range(200)]
    rows += [Row(k="a", item=None)] * 50
    df = spark.createDataFrame(rows)
    with_nulls = sk.distinct_count_approx(df, ["k"], "item", p=10).first()
    without = sk.distinct_count_approx(
        df.filter("item IS NOT NULL"), ["k"], "item", p=10).first()
    assert with_nulls["est"] == without["est"]


def test_cms_one_sided_and_mergeable(spark):
    """CMS estimates never underestimate; exact at generous width;
    disjoint-slice merge equals the full build cell-for-cell."""
    from dbpedia_spotlight_spark.operators.sketches import (
        cms_merge, cms_query, cms_sketch,
    )
    rows = [(i, f"u{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "i int, item string")
    sk = cms_sketch(df, [], "item", d=4, w=256)
    est = {r.item: r.est for r in
           cms_query(sk, df.select("item"), "item", d=4, w=256).collect()}
    true = {f"u{k}": len([1 for i in range(200) if i % 7 == k])
            for k in range(7)}
    assert est == true  # wide sketch, no collisions → exact
    # collision-forcing width stays one-sided
    sk2 = cms_sketch(df, [], "item", d=2, w=4)
    est2 = {r.item: r.est for r in
            cms_query(sk2, df.select("item"), "item", d=2, w=4).collect()}
    assert all(est2[k] >= true[k] for k in true)
    # disjoint halves merge exactly
    a = df.filter("i % 2 = 0")
    b = df.filter("i % 2 = 1")
    merged = cms_merge(cms_sketch(a, [], "item", d=4, w=256),
                       cms_sketch(b, [], "item", d=4, w=256))
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, sk.collect()))
    # unseen item estimates 0 (all d cells empty) on a keyed query
    probe = spark.createDataFrame([("never",)], "item string")
    z = cms_query(sk, probe, "item", d=4, w=256).collect()
    assert z[0].est == 0


def test_cms_weighted_and_keyed(spark):
    from dbpedia_spotlight_spark.operators.sketches import (
        cms_query, cms_sketch,
    )
    rows = [("k1", "a", 5), ("k1", "a", 3), ("k1", "b", 1),
            ("k2", "a", 7)]
    df = spark.createDataFrame(rows, "key string, item string, w int")
    sk = cms_sketch(df, ["key"], "item", d=4, w=128, weight_col="w")
    est = {(r.key, r.item): r.est for r in
           cms_query(sk, df.select("key", "item"), "item",
                     key_cols=["key"], d=4, w=128).collect()}
    assert est == {("k1", "a"): 8, ("k1", "b"): 1, ("k2", "a"): 7}


# --- KMV bottom-k sketch (round-5 addition) -----------------------------


def test_kmv_exact_below_capacity(spark):
    df = _ids(spark, 400, 57)  # 57 possible ids, k=256 > distinct
    exact = df.select("item").distinct().count()
    sk_df = sk.kmv_sketch(df, ["k"], "item", k=256)
    assert sk_df.count() == exact
    est = sk.kmv_count(sk_df, ["k"], k=256).first()["est"]
    assert est == float(exact)


def test_kmv_estimator_within_error_bound(spark):
    card = 20_000
    df = _ids(spark, 60_000, 10 ** 9, seed=3)  # ~60k distinct draws
    exact = df.select("item").distinct().count()
    k = 256
    sk_df = sk.kmv_sketch(df, ["k"], "item", k=k)
    assert sk_df.count() == k
    est = sk.kmv_count(sk_df, ["k"], k=k).first()["est"]
    # Beyer et al: relative error ~1/sqrt(k-2); allow 4 sigma
    assert abs(est - exact) / exact < 4 / (k - 2) ** 0.5
    assert card  # keep flake8 quiet about unused local


def test_kmv_merge_law_and_idempotence(spark):
    a = _ids(spark, 3000, 10 ** 9, seed=1)
    b = _ids(spark, 3000, 10 ** 9, seed=2)
    k = 64
    whole = sk.kmv_sketch(a.unionByName(b), ["k"], "item", k=k)
    merged = sk.kmv_merge(sk.kmv_sketch(a, ["k"], "item", k=k),
                          sk.kmv_sketch(b, ["k"], "item", k=k),
                          key_cols=["k"], k=k)
    assert sorted(r["h"] for r in whole.collect()) \
        == sorted(r["h"] for r in merged.collect())
    again = sk.kmv_merge(merged, merged, key_cols=["k"], k=k)
    assert sorted(r["h"] for r in again.collect()) \
        == sorted(r["h"] for r in merged.collect())


def test_kmv_layout_independent(spark):
    df = _ids(spark, 5000, 10 ** 9, seed=9)
    k = 32
    one = sk.kmv_sketch(df.coalesce(1), ["k"], "item", k=k)
    many = sk.kmv_sketch(df.repartition(13), ["k"], "item", k=k)
    assert sorted(r["h"] for r in one.collect()) \
        == sorted(r["h"] for r in many.collect())


def test_kmv_sketch_is_udf_free(spark):
    df = _ids(spark, 100, 50)
    plan = sk.kmv_sketch(df, ["k"], "item")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
