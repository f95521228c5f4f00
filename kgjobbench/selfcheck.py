"""Shows that every output check passes on the program's real output
and fails on a deliberately corrupted copy of it.

    python3 kgjobbench/selfcheck.py

Runs small versions of the three workloads (a few hundred pages) on a
``local[2]`` session, then corrupts each output in the way its check
guards against. Exits 0 only if every real output passes and every
corruption is caught.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402

results: list[tuple[str, bool]] = []


def expect(name: str, failures: list[str], should_fail: bool) -> None:
    ok = bool(failures) == should_fail
    results.append((name, ok))
    print(f"{'ok  ' if ok else 'FAIL'} {name}: "
          f"{failures[:1] if failures else 'passes'}", flush=True)


def annotate_checks(spark, work: str, inputs, name: str) -> None:
    from dbpedia_spotlight_spark import run_pipeline

    lex, corpus = f"{work}/{name}-lex", f"{work}/{name}-corpus"
    gen.write_lexicon(inputs.tables, lex)
    gen.write_pages(inputs.pages, corpus, n_files=4)
    out = f"{work}/{name}-out"
    with contextlib.redirect_stdout(sys.stderr):
        run_pipeline.main(["--corpus", corpus, "--lexicon", lex,
                           "--out", out, "--mode", "annotate"], spark=spark)
    t = run.read_triples(spark, f"{out}/annotate_output")
    expect(f"{name}: real output", checks.check_annotate(t, inputs), False)

    links = t["pred"] == checks.PRED_IDENT
    bad = t.copy()
    idx = bad[links].index[::10]
    bad.loc[idx, "obj"] = bad.loc[idx, "obj"] + "_wrong"
    expect(f"{name}: 10% of links point to a wrong uri",
           checks.check_links(bad, inputs.truth), True)
    bad = t.drop(t[links].index[::10])
    expect(f"{name}: 10% of links missing",
           checks.check_links(bad, inputs.truth), True)

    anchors = t[t["pred"] == checks.PRED_ANCHOR]
    bad = t.copy()
    i = anchors.index[0]
    u, span = bad.at[i, "subj"].rsplit("#char=", 1)
    b, e = map(int, span.split(","))
    bad.at[i, "subj"] = f"{u}#char={b + 1},{e + 1}"
    expect(f"{name}: one anchor span shifted by one char",
           checks.check_anchor_spans(bad, inputs.texts), True)

    extra = t.iloc[[anchors.index[0]]].copy()
    lexo = inputs.lex
    below = sorted(lexo.below_gate)[0]
    extra["obj"] = below
    below_uris = {lexo.ent_uris[lexo.candidate_ids(lexo.sf_names.index(below))[0]]}
    expect(f"{name}: an anchor of a below-gate surface form",
           checks.check_excluded(
               pd.concat([t, extra]), inputs.non_en, lexo.below_gate,
               below_uris), True)
    if inputs.non_en:
        extra = t.iloc[[0]].copy()
        extra["subj"] = f"{sorted(inputs.non_en)[0]}#char=0,4"
        expect(f"{name}: a triple from a non-en page",
               checks.check_excluded(pd.concat([t, extra]), inputs.non_en,
                                     lexo.below_gate, set()), True)


def recrawl_checks(spark, work: str) -> None:
    from dbpedia_spotlight_spark import run_kg_maintain
    from dbpedia_spotlight_spark.streaming.kg_stream import (
        GraphStore, KGStore)

    rc = gen.Recrawl(5, batch_pages=120, base_pages=400)
    lex, kg, graph = f"{work}/rc-lex", f"{work}/kg", f"{work}/graph"
    gen.write_lexicon(rc.w.tables(), lex)

    def fold(d: str) -> None:
        with contextlib.redirect_stdout(sys.stderr):
            run_kg_maintain.main(["--pages", d, "--lexicon", lex,
                                  "--kg", kg, "--graph", graph], spark=spark)

    gen.write_pages(rc.base(), f"{work}/base", n_files=2)
    fold(f"{work}/base")
    before = KGStore(spark, kg).read().toPandas()
    batch = rc.fresh_batch()
    gen.write_pages(batch.pages, f"{work}/b0", n_files=2)
    fold(f"{work}/b0")
    rc.expect(batch)
    after = KGStore(spark, kg).read().toPandas()
    gs = GraphStore(spark, graph)
    inc, edges = gs.read_incidence().toPandas(), gs.read_edges().toPandas()
    same = {u for u, k in batch.kind.items() if k in ("same", "stale")}
    expect("recrawl: live KG P/R", checks.check_links(after, rc.truth()),
           False)
    expect("recrawl: same/stale captures unchanged",
           checks.check_unchanged(before, after, same, "same"), False)
    expect("recrawl: graph equals recompute",
           checks.check_graph(after, inc, edges), False)
    expect("recrawl: verify_snapshot",
           checks.check_verify(KGStore(spark, kg).verify_snapshot()), False)
    fold(f"{work}/b0")                           # replay
    replayed = KGStore(spark, kg).read().toPandas()
    expect("recrawl: replay changes nothing",
           checks.check_unchanged(after, replayed, set(batch.kind),
                                  "replay"), False)

    links = after["pred"] == checks.PRED_IDENT
    expect("recrawl: KG without 10% of its links",
           checks.check_links(after.drop(after[links].index[::10]),
                              rc.truth()), True)
    changed = {u for u, k in batch.kind.items() if k == "changed"}
    expect("recrawl: a stale capture applied (old content kept for a "
           "changed url)",
           checks.check_unchanged(before, after, changed, "stale"), True)
    bad = after.copy()
    u = sorted(same)[0]
    hit = checks.split_subj(bad)["url"] == u
    bad = bad[~hit] if hit.any() else bad
    expect("recrawl: a same-content capture dropped its triples",
           checks.check_unchanged(before, bad, same, "same"), True)
    expect("recrawl: graph missing one edge",
           checks.check_graph(after, inc, edges.iloc[1:]), True)
    bad_inc = inc.copy()
    bad_inc.loc[bad_inc.index[0], "n_links"] += 1
    expect("recrawl: graph incidence count off by one",
           checks.check_graph(after, bad_inc, edges), True)
    # corrupt the live snapshot on disk: one more triple file
    store = KGStore(spark, kg)
    snap = glob.glob(f"{kg}/gen-{store.latest_gen():05d}/triples")[0]
    spark.createDataFrame([("x#char=0,1", "p", "o")],
                          "subj string, pred string, obj string") \
        .coalesce(1).write.mode("append").parquet(snap)
    expect("recrawl: verify_snapshot on a snapshot with an extra triple",
           checks.check_verify(KGStore(spark, kg).verify_snapshot()), True)


def main() -> int:
    work = os.path.join(ROOT, ".kgjobbench_work", f"selfcheck-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = run.start_spark(2, work)
    tree = probe.ProcTree()
    try:
        annotate_checks(spark, work, gen.crawl_annotate_inputs(3, 300),
                        "crawl_annotate")
        annotate_checks(spark, work, gen.dense_link_inputs(3, 200),
                        "dense_link")
        recrawl_checks(spark, work)
    finally:
        run.stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    bad = [n for n, ok in results if not ok]
    print(f"{len(results) - len(bad)}/{len(results)} as expected"
          + (f"; unexpected: {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
