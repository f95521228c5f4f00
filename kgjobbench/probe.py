"""Measurement helpers: the process tree's CPU and resident memory from
``/proc``, Spark's status store, bytes on disk, and timing wrappers
around the package's public functions for the traced run."""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """The benchmark process and its descendants (the JVM, Spark's
    Python daemon and workers)."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat_fields(int(name))
                if st is not None:
                    children[int(st[1])].append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        """User+sys CPU of every live process in the tree, plus what
        they collected from children that already exited."""
        ticks = 0
        for pid in self.pids():
            st = _stat_fields(pid)
            if st is not None:
                ticks += sum(int(x) for x in st[11:15])
        return ticks / _TICK

    def rss_bytes(self, pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total

    def descendants_alive(self) -> list[int]:
        return [p for p in self.pids() if p != self.root]


class RssSampler:
    """Samples the tree's summed RSS every ``interval`` s while active;
    ``peak`` is the largest sample seen inside ``with`` blocks."""

    def __init__(self, tree: ProcTree, interval: float = 0.1) -> None:
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids, rescan = [], 0.0
        while not self._stop.is_set():
            self._on.wait(0.5)
            if not self._on.is_set():
                continue
            now = time.monotonic()
            if now >= rescan:
                pids, rescan = self.tree.pids(), now + 1.0
            self.peak = max(self.peak, self.tree.rss_bytes(pids))
            time.sleep(self.interval)

    def __enter__(self) -> "RssSampler":
        self._on.set()
        return self

    def __exit__(self, *exc) -> None:
        self._on.clear()
        self.peak = max(self.peak, self.tree.rss_bytes(self.tree.pids()))

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


class SparkCounters:
    """Totals from Spark's status store: jobs run, shuffle bytes
    written, bytes spilled to disk. Per-operation values are deltas."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._store = spark._jsc.sc().statusStore()

    def totals(self) -> tuple[int, int, int]:
        sc = self.spark._jsc.sc()
        sc.listenerBus().waitUntilEmpty(10_000)
        n_jobs = len(self.spark.sparkContext.statusTracker()
                     .getJobIdsForGroup(None))
        jvm = self._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        write = spill = 0
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            write += s.shuffleWriteBytes()
            spill += s.diskBytesSpilled()
        return n_jobs, write, spill


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def file_index(roots: list[str]) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``roots``."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def files_written(before: dict, after: dict) -> dict[str, int]:
    """path -> size of the files that are new or rewritten between two
    ``file_index`` snapshots."""
    return {p: sz for p, (sz, mt) in after.items()
            if before.get(p) != (sz, mt)}


class Tracer:
    """Timing wrappers installed on module or class attributes.

    ``wrap(owner, attr, name, count=None)`` replaces ``owner.attr`` with
    a function that adds its wall time to ``self.secs[name]``, its call
    count to ``self.calls[name]`` and, when ``count`` is given,
    ``count(args, result)`` to ``self.work[name]``. ``name`` may be a
    function of the call's arguments. ``restore()`` puts every original
    back."""

    def __init__(self) -> None:
        self.secs: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.work: dict[str, float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        orig = getattr(owner, attr)
        secs, calls, work = self.secs, self.calls, self.work
        clock = time.perf_counter

        def timed(*args, **kwargs):
            t0 = clock()
            out = orig(*args, **kwargs)
            key = name(args) if callable(name) else name
            secs[key] += clock() - t0
            calls[key] += 1
            if count is not None:
                work[key] += count(args, out)
            return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, timed)

    def reset(self) -> None:
        self.secs.clear()
        self.calls.clear()
        self.work.clear()

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
