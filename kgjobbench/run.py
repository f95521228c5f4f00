"""The benchmark of record for the KG-construction jobs.

    python3 kgjobbench/run.py --workload crawl_annotate --seed 1 \\
        --seconds 6 --trace 0

Runs the package's real jobs in-process on one Spark session,
``local[N]`` with N = the CPUs this process may use:
``run_pipeline.main(argv, spark=...)`` for ``crawl_annotate`` and
``dense_link``, ``run_kg_maintain.main(argv, spark=...)`` with
``--graph`` for ``recrawl_fold``. Inputs are generated from ``--seed``
(``gen.py``) and written as parquet under ``.kgjobbench_work/`` in the
checkout; the jobs see only those files. Outputs are checked against
the generator's truth (``checks.py``).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pickle
import shutil
import signal
import sys
import time
import traceback

# setup_s runs from here: the heavy imports (pyspark, pandas, the package)
# come later, so they are part of a cold set-up
T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probe  # noqa: E402

WORKLOADS = ("crawl_annotate", "dense_link", "recrawl_fold")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="job wall time to measure; whole rounds of "
                         "operations run until it is reached")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[kgjobbench] {msg}", file=sys.stderr, flush=True)


def start_spark(n: int, work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("kgjobbench")
        # the jobs' own session settings (run_pipeline / run_kg_maintain)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # one shuffle partition per core, as bench.py runs the jobs
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # per-operation status-store deltas need every job and stage kept
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        # everything the run writes stays inside the checkout
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, tree: probe.ProcTree) -> None:
    """Stop the session and the JVM, then wait until every process the
    run started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    started = tree.descendants_alive()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


# ---------------------------------------------------------------------------
# per-operation measurement


class Op:
    """One timed operation: a job call and what it cost."""

    def __init__(self, pages: int) -> None:
        self.pages = pages
        self.wall = self.cpu = 0.0
        self.failed = False
        self.result = None
        self.layers: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.jobs = self.shuffle_write = self.spill = 0
        self.written: dict[str, int] = {}


class Harness:
    def __init__(self, spark, n_cpus: int, trace: bool) -> None:
        self.spark = spark
        self.n = n_cpus
        self.trace = trace
        self.tree = probe.ProcTree()
        self.rss = probe.RssSampler(self.tree)
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.tracer = probe.Tracer() if trace else None
        self.counters = probe.SparkCounters(spark) if trace else None

    def run(self, fn, pages: int, watch: list[str] | None = None) -> Op:
        """Time ``fn()``; with tracing on, also take the wrapped layer
        times, Spark's status-store deltas and, for ``watch`` roots, the
        files written. Only ``fn()`` is inside the timed span."""
        op = Op(pages)
        if self.trace:
            self.tracer.reset()
            before = self.counters.totals()
            files = probe.file_index(watch) if watch else None
        cpu0 = self.tree.cpu_s()
        with self.rss, contextlib.redirect_stdout(sys.stderr):
            t0 = time.perf_counter()
            try:
                op.result = fn()
            except Exception:
                op.failed = True
                log("operation failed:\n" + traceback.format_exc())
            op.wall = time.perf_counter() - t0
        op.cpu = self.tree.cpu_s() - cpu0
        log(f"op {len(self.ops)}: {op.wall:.3f} s wall, {op.cpu:.2f} s cpu, "
            f"{pages} pages{' FAILED' if op.failed else ''}")
        if self.trace:
            after = self.counters.totals()
            op.jobs, op.shuffle_write, op.spill = (
                a - b for a, b in zip(after, before))
            op.layers = dict(self.tracer.secs)
            op.counts = dict(self.tracer.work)
            if watch:
                op.written = probe.files_written(
                    files, probe.file_index(watch))
        self.ops.append(op)
        return op

    def done(self, seconds: float) -> bool:
        """True once the timed jobs add up to ``seconds``, or once an
        operation has failed (a failure can be fast, and would never add
        up)."""
        return (sum(op.wall for op in self.ops) >= seconds
                or any(op.failed for op in self.ops))

    def check(self, failures: list[str]) -> None:
        for f in failures:
            log(f"CHECK FAILED: {f}")
        self.failures.extend(failures)

    def end_to_end(self, setup_s: float,
                   disk_bytes_per_triple: float | None) -> dict:
        ok = [op for op in self.ops if not op.failed]
        pages = sum(op.pages for op in ok)
        wall = sum(op.wall for op in ok)
        cpu = sum(op.cpu for op in ok)
        return {
            "docs_per_s": (pages / wall if wall else 0.0, "pages/s"),
            "setup_s": (setup_s, "s"),
            "cpu_s_per_kdoc": (1000.0 * cpu / max(pages, 1), "s"),
            "peak_rss_mb": (self.rss.peak / 2 ** 20, "MB"),
            "disk_bytes_per_triple": (disk_bytes_per_triple or 0.0, "B"),
        }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# traced run: the fused pass in-process, wrapped layer by layer


def fused_pass_layers(model, pdf) -> dict[str, float]:
    """Run the fused pass's per-batch function on ``pdf`` (``en`` pages)
    on this core, alternately plain and with timing wrappers around the
    layer functions it calls; each side reports its fastest of three
    passes, so a stall of the box does not land on one side only."""
    from dbpedia_spotlight_spark import pipeline
    from dbpedia_spotlight_spark.functions import automaton

    cfg = pipeline.PipelineConfig()
    n = len(pdf)
    clock = time.perf_counter
    pipeline._annotate_pdf(model, cfg, pdf.head(128), apply_filters=True)
    plain, wrapped, best = [], [], None
    for _ in range(3):
        t0 = clock()
        pipeline._annotate_pdf(model, cfg, pdf, apply_filters=True)
        plain.append(clock() - t0)
        tr = probe.Tracer()
        tr.wrap(pipeline, "strip_html", "strip", lambda a, _: len(a[0]))
        tr.wrap(pipeline, "tokenize", "tokenize", lambda _, out: len(out))
        tr.wrap(automaton.AhoCorasick, "find_all", "find_all",
                lambda _, out: len(out))
        tr.wrap(pipeline, "resolve_overlaps", "resolve",
                lambda _, out: len(out))
        tr.wrap(pipeline, "context_loglik", "score", lambda a, _: len(a[1]))
        tr.wrap(pipeline, "_rank_scores", "rank")
        try:
            t0 = clock()
            pipeline._annotate_pdf(model, cfg, pdf, apply_filters=True)
            wrapped.append(clock() - t0)
        finally:
            tr.restore()
        if best is None or wrapped[-1] < best[0]:
            best = (wrapped[-1], tr)
    w_time, tr = best
    us = 1e6 / n
    s, w = tr.secs, tr.work
    spot = s["find_all"] + s["resolve"]
    return {
        "extraction.strip_us_per_doc": s["strip"] * us,
        "extraction.html_kb_per_doc": w["strip"] / n / 1024,
        "tokenizer.tokenize_us_per_doc": s["tokenize"] * us,
        "tokenizer.tokens_per_doc": w["tokenize"] / n,
        "automaton.spot_us_per_doc": spot * us,
        "automaton.kept_per_match": w["resolve"] / max(w["find_all"], 1),
        "model.score_us_per_doc": s["score"] * us,
        "model.candidates_per_doc": w["score"] / n,
        "pipeline.rank_us_per_doc": s["rank"] * us,
        "pipeline.self_us_per_doc": (w_time - s["strip"] - s["tokenize"]
                                     - spot - s["score"] - s["rank"]) * us,
        "pipeline.batch_us_per_doc": w_time * us,
        "pipeline.batch_plain_us_per_doc": min(plain) * us,
    }


def install_job_wrappers(tr: probe.Tracer) -> None:
    from dbpedia_spotlight_spark import model as model_mod
    from dbpedia_spotlight_spark.sources.catalog import ParquetCatalog
    from dbpedia_spotlight_spark.streaming import kg_stream

    tr.wrap(model_mod, "load_model", "load_model")
    tr.wrap(model_mod, "compile_model", "compile_model")
    tr.wrap(ParquetCatalog, "write", lambda a: f"write:{a[2]}")
    tr.wrap(kg_stream, "apply_pages_batch", "fold", lambda _, out: out)
    tr.wrap(kg_stream.KGStore, "advance", "advance")
    tr.wrap(kg_stream.GraphStore, "catchup", "graph_catchup")


LAYER_UNITS = {
    "extraction.strip_us_per_doc": "us",
    "extraction.html_kb_per_doc": "KB",
    "tokenizer.tokenize_us_per_doc": "us",
    "tokenizer.tokens_per_doc": "count",
    "automaton.spot_us_per_doc": "us",
    "automaton.kept_per_match": "ratio",
    "model.score_us_per_doc": "us",
    "model.candidates_per_doc": "count",
    "pipeline.rank_us_per_doc": "us",
    "pipeline.self_us_per_doc": "us",
    "pipeline.batch_us_per_doc": "us",
    "pipeline.batch_plain_us_per_doc": "us",
    "pipeline.boundary_us_per_doc": "us",
    "model.load_s": "s",
    "model.compile_s": "s",
    "model.broadcast_mb": "MB",
    "catalog.write_s": "s",
    "run_pipeline.self_s": "s",
    "run_kg_maintain.self_s": "s",
    "spark.jobs_per_op": "count",
    "spark.shuffle_write_kb_per_doc": "KB",
    "spark.spill_mb": "MB",
    "kg_stream.fold_s": "s",
    "kg_stream.advance_s": "s",
    "kg_stream.graph_catchup_s": "s",
    "kg_stream.changes_per_fold": "count",
    "kg_stream.bytes_written_per_change": "B",
    "kg_stream.snapshot_bytes_per_change": "B",
    "kg_stream.log_bytes_per_change": "B",
}


def job_layers(h: Harness, model, pass_pdf, en_pages_per_op: int | None,
               kg: str = "") -> dict[str, float]:
    """Per-layer metrics of a traced run: the fused pass in-process on
    ``pass_pdf`` plus the per-operation means of the job-level spans.
    Layers a workload does not run read 0."""
    ops = [op for op in h.ops if not op.failed]
    m = {k: 0.0 for k in LAYER_UNITS}
    m.update(fused_pass_layers(model, pass_pdf))
    lay = lambda op, k: op.layers.get(k, 0.0)  # noqa: E731
    m["model.load_s"] = _mean(lay(op, "load_model") for op in ops)
    m["model.compile_s"] = _mean(lay(op, "compile_model") for op in ops)
    m["model.broadcast_mb"] = len(pickle.dumps(
        model, protocol=pickle.HIGHEST_PROTOCOL)) / 2 ** 20
    pages = sum(op.pages for op in ops)
    m["spark.jobs_per_op"] = _mean(op.jobs for op in ops)
    m["spark.shuffle_write_kb_per_doc"] = \
        sum(op.shuffle_write for op in ops) / 1024 / max(pages, 1)
    m["spark.spill_mb"] = _mean(op.spill / 2 ** 20 for op in ops)
    if en_pages_per_op is not None:      # annotate workloads
        write = [lay(op, "write:annotate_output") for op in ops]
        m["catalog.write_s"] = _mean(write)
        m["run_pipeline.self_s"] = _mean(
            op.wall - w - lay(op, "load_model") for op, w in zip(ops, write))
        # the write is the action that runs the pass: its N cores' time
        # per page beyond the in-process pass is scan, Arrow serde,
        # scheduling, the dedup shuffle and the parquet write
        m["pipeline.boundary_us_per_doc"] = (
            m["catalog.write_s"] * h.n / en_pages_per_op * 1e6
            - m["pipeline.batch_us_per_doc"])
    else:                                # recrawl_fold
        changes = sum(op.counts.get("fold", 0) for op in ops)
        m["kg_stream.fold_s"] = _mean(lay(op, "fold") for op in ops)
        m["kg_stream.advance_s"] = _mean(lay(op, "advance") for op in ops)
        m["kg_stream.graph_catchup_s"] = _mean(
            lay(op, "graph_catchup") for op in ops)
        m["kg_stream.changes_per_fold"] = changes / max(len(ops), 1)
        written = [(p, sz) for op in ops for p, sz in op.written.items()]
        per = 1 / max(changes, 1)
        m["kg_stream.bytes_written_per_change"] = \
            sum(sz for _, sz in written) * per
        m["kg_stream.snapshot_bytes_per_change"] = sum(
            sz for p, sz in written if p.startswith(f"{kg}/gen-")) * per
        m["kg_stream.log_bytes_per_change"] = sum(
            sz for p, sz in written if p.startswith(f"{kg}/delta_log/")) * per
        m["run_kg_maintain.self_s"] = _mean(
            op.wall - lay(op, "load_model") - lay(op, "fold")
            - lay(op, "graph_catchup") for op in ops)
    return m


# ---------------------------------------------------------------------------
# workloads


def read_triples(spark, path: str):
    return spark.read.parquet(path).select("subj", "pred", "obj").toPandas()


def annotate_workload(args, work: str) -> tuple[Harness, dict]:
    import gen
    import checks

    t_gen = time.time()
    inputs = (gen.crawl_annotate_inputs(args.seed)
              if args.workload == "crawl_annotate"
              else gen.dense_link_inputs(args.seed))
    lexicon = os.path.join(work, "lexicon")
    corpus = os.path.join(work, "corpus")
    gen.write_lexicon(inputs.tables, lexicon)
    gen.write_pages(inputs.pages, corpus, n_files=16)
    warm = os.path.join(work, "warm")
    gen.write_pages(inputs.pages.iloc[:len(inputs.pages) // 8], warm,
                    n_files=4)
    n_pages = len(inputs.pages)
    pass_pdf = inputs.pages[inputs.pages["lang"] == "en"] \
        .drop(columns=["lang", "warc_ts"]).head(1024).reset_index(drop=True)
    n_en = n_pages - len(inputs.non_en)
    gen_s = time.time() - t_gen

    from dbpedia_spotlight_spark import run_pipeline
    from dbpedia_spotlight_spark.model import load_model

    n_cpus = len(os.sched_getaffinity(0))
    t_spark = time.time()
    spark = start_spark(n_cpus, work)
    log(f"session start {time.time() - t_spark:.2f} s, local[{n_cpus}]")
    h = Harness(spark, n_cpus, bool(args.trace))
    try:
        job_no = iter(range(1 << 30))

        def job(pages_dir: str = corpus) -> tuple[dict, str]:
            out = os.path.join(work, f"out-{next(job_no)}")
            return run_pipeline.main(
                ["--corpus", pages_dir, "--lexicon", lexicon, "--out", out,
                 "--mode", "annotate"], spark=spark), out

        with contextlib.redirect_stdout(sys.stderr):
            # first model load + broadcast, warm-up on an eighth of the pages
            _, warm_out = job(warm)
        shutil.rmtree(warm_out)
        setup_s = time.time() - T_START - gen_s
        log(f"setup {setup_s:.2f} s (inputs {gen_s:.2f} s, {n_pages} pages)")

        if args.trace:
            install_job_wrappers(h.tracer)
        first_rows = disk = None
        while True:
            for _ in range(2):      # a round: two jobs over the corpus
                op = h.run(job, n_pages)
                if op.failed:
                    continue
                stats, out = op.result
                if first_rows is None:
                    triples = read_triples(spark, os.path.join(
                        out, "annotate_output"))
                    h.check(checks.check_annotate(triples, inputs))
                    first_rows = stats["rows"]
                    disk = probe.tree_bytes(out) / max(len(triples), 1)
                elif stats["rows"] != first_rows:
                    h.check([f"job wrote {stats['rows']} rows, the first "
                             f"wrote {first_rows}"])
                shutil.rmtree(out)
            if h.done(args.seconds):
                break
        if args.trace:
            h.tracer.restore()
            metrics = job_layers(h, load_model(spark, lexicon), pass_pdf,
                                 n_en)
        else:
            metrics = h.end_to_end(setup_s, disk)
        return h, metrics
    finally:
        h.rss.close()
        stop_spark(spark, h.tree)


def recrawl_workload(args, work: str) -> tuple[Harness, dict]:
    import gen
    import checks

    t_gen = time.time()
    rc = gen.Recrawl(args.seed)
    lexicon = os.path.join(work, "lexicon")
    base_dir = os.path.join(work, "base")
    gen.write_lexicon(rc.w.tables(), lexicon)
    gen.write_pages(rc.base(), base_dir, n_files=8)
    gen_s = time.time() - t_gen

    from dbpedia_spotlight_spark import run_kg_maintain
    from dbpedia_spotlight_spark.model import load_model
    from dbpedia_spotlight_spark.streaming.kg_stream import (
        GraphStore, KGStore)

    kg, graph = os.path.join(work, "kg"), os.path.join(work, "graph")
    n_cpus = len(os.sched_getaffinity(0))
    t_spark = time.time()
    spark = start_spark(n_cpus, work)
    log(f"session start {time.time() - t_spark:.2f} s, local[{n_cpus}]")
    h = Harness(spark, n_cpus, bool(args.trace))

    def fold(pages_dir: str) -> dict:
        return run_kg_maintain.main(
            ["--pages", pages_dir, "--lexicon", lexicon, "--kg", kg,
             "--graph", graph], spark=spark)

    def live_kg():
        return KGStore(spark, kg).read().toPandas()

    def check_fold(before, batch: gen.Batch, replay: bool):
        """Checks after one fold, outside the timed span."""
        after = live_kg()
        out = checks.check_links(after, rc.truth(), "live KG")
        if replay:
            out += checks.check_unchanged(before, after,
                                          set(batch.kind), "replayed batch")
        else:
            for kind in ("same", "stale"):
                urls = {u for u, k in batch.kind.items() if k == kind}
                out += checks.check_unchanged(before, after, urls,
                                              f"{kind} captures")
        out += checks.check_verify(KGStore(spark, kg).verify_snapshot())
        gs = GraphStore(spark, graph)
        out += checks.check_graph(after, gs.read_incidence().toPandas(),
                                  gs.read_edges().toPandas())
        h.check(out)
        return after

    try:
        with contextlib.redirect_stdout(sys.stderr):
            fold(base_dir)      # first model load + broadcast, base KG
        setup_s = time.time() - T_START - gen_s
        log(f"setup {setup_s:.2f} s (inputs {gen_s:.2f} s)")
        # the base fold is checked with the first timed fold: that check
        # covers every live url
        live = live_kg()

        if args.trace:
            install_job_wrappers(h.tracer)
        disk = pass_pdf = None
        n_round = 0
        while True:
            # a round: one fresh recrawl batch, then a replay of it
            batch = rc.fresh_batch()
            bdir = os.path.join(work, f"batch-{n_round}")
            gen.write_pages(batch.pages, bdir, n_files=4)
            for replay in (False, True):
                op = h.run(lambda: fold(bdir), len(batch.pages),
                           [kg, graph] if args.trace else None)
                if not replay and not op.failed:
                    rc.expect(batch)
                live = check_fold(live, batch, replay)
            n_round += 1
            if disk is None:
                disk = (probe.tree_bytes(kg) + probe.tree_bytes(graph)) \
                    / max(len(live), 1)
                pass_pdf = batch.pages[batch.pages["lang"] == "en"].drop(
                    columns=["lang", "warc_ts"]).reset_index(drop=True)
            if h.done(args.seconds):
                break
        if args.trace:
            h.tracer.restore()
            metrics = job_layers(h, load_model(spark, lexicon), pass_pdf,
                                 None, kg)
        else:
            metrics = h.end_to_end(setup_s, disk)
        return h, metrics
    finally:
        h.rss.close()
        stop_spark(spark, h.tree)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import dbpedia_spotlight_spark  # noqa: F401  (fail fast without it)

    work = os.path.join(ROOT, ".kgjobbench_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    # Spark's scratch, the JVM's and Python's temp files stay in here
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        run = recrawl_workload if args.workload == "recrawl_fold" \
            else annotate_workload
        h, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    if all(op.failed for op in h.ops):
        h.check(["every operation failed, so no output was checked"])
    if args.trace:
        metrics = {k: (v, LAYER_UNITS[k]) for k, v in metrics.items()}
    result = {
        "correct": not h.failures,
        "attempted": len(h.ops),
        "failed": sum(op.failed for op in h.ops),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
