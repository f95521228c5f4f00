"""Contention-independent perf regression gate over the headline suite.

Wall-clock on this box swings ±2× with external load (measured across
rounds), so the regression signal here is everything wall-clock is NOT:

- **plan shape** — the number of shuffle Exchanges and broadcast
  Exchanges in each headline query's physical plan, compared EXACTLY
  against the committed ``tests/plan_expectations.json``. A new shuffle
  in a plan is the thing that becomes the bottleneck at 100 TB, and it
  appears here the moment a code edit introduces it, regardless of how
  loaded the box is;
- **measured shuffle-write bytes** — per query, after actually running
  it at sf0.001, bounded by the committed value ×1.5 + 0.5 MB slack
  (parquet/compression jitter); a query whose shuffle VOLUME grows
  (wider rows through an exchange, a lost broadcast) fails even if its
  Exchange count is unchanged;
- **zero disk spill** — at this scale any spill is pathological.

Regenerate the expectations (after an INTENTIONAL plan change) with:

    python tests/test_plan_regression.py

which rewrites ``plan_expectations.json`` using the same session
configuration pytest uses (local[4], shuffle.partitions=8, AQE on).
Exchange counts are taken from the pre-execution plan string — with AQE
the runtime may still convert a shuffle to broadcast, but the
pre-execution shape is deterministic for a fixed sf and config, which
is what a round-over-round gate needs.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

# `import bench` (repo root) resolves under `python -m pytest` via cwd;
# script-mode regen runs with sys.path[0]=tests/, so pin the root too
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

EXPECT_PATH = Path(__file__).parent / "plan_expectations.json"
SF_DIR = os.environ.get("PLAN_GATE_SF_DIR", "/root/testdata/sf0.001")


def _headline_queries():
    import bench
    from dbpedia_spotlight_spark import queries as Q

    qs = {name: q for name, q, _ in Q.PAIRS}
    return [(name, qs[name]) for name in bench.HEADLINE]


def _exchange_counts(plan: str) -> dict[str, int]:
    """Shuffle vs broadcast Exchange node counts in a plan tree string.
    ReusedExchange lines repeat the referenced child's description, so
    they are stripped first — a reused shuffle costs nothing extra."""
    txt = "\n".join(l for l in plan.splitlines()
                    if "ReusedExchange" not in l)
    shuffle = sum(txt.count(p) for p in (
        "Exchange hashpartitioning", "Exchange rangepartitioning",
        "Exchange SinglePartition"))
    return {"shuffle_exchanges": shuffle,
            "broadcast_exchanges": txt.count("BroadcastExchange")}


def _measure(spark, fn) -> dict:
    """Plan-shape counts + measured shuffle/spill bytes for one query."""
    import bench

    df = fn(spark, SF_DIR)
    counts = _exchange_counts(
        df._jdf.queryExecution().executedPlan().toString())
    shuffle_totals, _reset, _peak = bench._metrics_probe(spark)
    r0, w0, s0 = shuffle_totals()
    bench._run(df)
    r1, w1, s1 = shuffle_totals()
    mb = 1.0 / (1 << 20)
    counts["shuffle_write_mb"] = round((w1 - w0) * mb, 3)
    counts["disk_spill_mb"] = round((s1 - s0) * mb, 3)
    return counts


@pytest.fixture(scope="module")
def expectations():
    assert EXPECT_PATH.exists(), (
        "committed expectations missing — regenerate with "
        "`python tests/test_plan_regression.py`")
    return json.loads(EXPECT_PATH.read_text())


@pytest.mark.parametrize("name,fn", _headline_queries())
def test_headline_plan_shape_and_shuffle_volume(
        spark, expectations, name, fn):
    exp = expectations.get(name)
    assert exp is not None, (
        f"{name} joined HEADLINE without a committed expectation — "
        "regenerate plan_expectations.json")
    got = _measure(spark, fn)
    assert got["shuffle_exchanges"] == exp["shuffle_exchanges"], (
        f"{name}: shuffle Exchange count changed "
        f"{exp['shuffle_exchanges']} → {got['shuffle_exchanges']} — "
        "a new shuffle entered (or left) this plan; if intentional, "
        "regenerate plan_expectations.json and say why in the commit")
    assert got["broadcast_exchanges"] == exp["broadcast_exchanges"], (
        f"{name}: broadcast Exchange count changed "
        f"{exp['broadcast_exchanges']} → {got['broadcast_exchanges']}")
    ceiling = exp["shuffle_write_mb"] * 1.5 + 0.5
    assert got["shuffle_write_mb"] <= ceiling, (
        f"{name}: shuffle write grew {exp['shuffle_write_mb']} → "
        f"{got['shuffle_write_mb']} MB (ceiling {ceiling:.3f}) — "
        "wider rows through an exchange or a lost broadcast")
    assert got["disk_spill_mb"] == 0.0, (
        f"{name}: spilled {got['disk_spill_mb']} MB at sf0.001")


def _regen() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-expectations-regen")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    out = {}
    for name, fn in _headline_queries():
        out[name] = _measure(spark, fn)
        print(name, out[name], flush=True)
    EXPECT_PATH.write_text(json.dumps(out, indent=1, sort_keys=True)
                           + "\n")
    print(f"wrote {EXPECT_PATH}")
    spark.stop()


if __name__ == "__main__":
    _regen()
