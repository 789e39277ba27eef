"""In-memory spans and counters around the crawl engine's public calls.

The benchmark never edits ``crawlspark``: it wraps a handful of public
methods for the lifetime of one run (``Instrumented``) and restores them
afterwards. Two kinds of record come out:

* the commit clock, always on: the wall-clock instant of every
  ``CrawlState.commit_epoch``, which is how end-to-end epoch times and
  the resume latency are measured without tracing;
* spans and counters, only in a traced run: name, start, end and the
  enclosing span, kept in memory and written out when the run ends.

A span's self time is its duration minus the time its child spans
cover. Children never overlap (the driver is one thread), so that is a
plain subtraction.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    """Spans and counters of one run; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[name] += value

    def finished(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.finished(), "counters": dict(self.counters)}, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self seconds per span name over finished spans."""
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - child_s[s["id"]]
    return dict(out)


class Instrumented:
    """Context manager that wraps the engine's public calls for one run.

    ``commits`` collects ``(epoch, wall time)`` for every committed
    epoch, traced or not. With an enabled recorder it also opens a span
    around each wrapped call and counts the bloom's folds and broadcasts.
    """

    def __init__(self, recorder: Recorder):
        self.rec = recorder
        self.commits: list[tuple[int, float]] = []
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` (a class or module attribute) until exit."""
        self._undo.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def __enter__(self) -> "Instrumented":
        from crawlspark.operators.bloom import IncrementalSeen
        from crawlspark.plans import epoch as epoch_mod
        from crawlspark.plans.reports import ReportStore
        from crawlspark.plans.state import CrawlState
        from crawlspark.sources.tables import EpochTable

        rec, commits = self.rec, self.commits

        orig_commit = CrawlState.commit_epoch

        def commit_epoch(state, epoch, **kw):
            with rec.span("plans.state.commit_epoch", epoch=epoch):
                orig_commit(state, epoch, **kw)
            commits.append((epoch, time.time()))

        self._patch(CrawlState, "commit_epoch", commit_epoch)
        if not rec.enabled:
            return self

        orig_write = EpochTable.write_epoch_split

        def write_epoch_split(table, other, combined, epoch, *a, **kw):
            with rec.span("sources.tables.write_split", epoch=epoch):
                orig_write(table, other, combined, epoch, *a, **kw)

        orig_fold = IncrementalSeen.fold

        def fold(seen, urls, n_new, *a, **kw):
            with rec.span("operators.bloom.fold"):
                orig_fold(seen, urls, n_new, *a, **kw)
            if n_new > 0:
                rec.count("operators.bloom.folds")

        orig_rebuild = IncrementalSeen.rebuild_if_needed

        def rebuild_if_needed(seen, *a, **kw):
            with rec.span("operators.bloom.rebuild"):
                rebuilt = orig_rebuild(seen, *a, **kw)
            if rebuilt:
                rec.count("operators.bloom.folds")
            return rebuilt

        orig_bc = IncrementalSeen.__dict__["bc"]

        def bc(seen):
            if seen._bc is None and seen.count > 0:
                rec.count("operators.bloom.broadcasts")
                rec.count("operators.bloom.broadcast_bytes", seen.shards.bitmaps.nbytes)
            return orig_bc.fget(seen)

        def report_update(orig):
            def update(store, spark, name, *a, **kw):
                with rec.span(f"plans.reports.update.{name}"):
                    return orig(store, spark, name, *a, **kw)
            return update

        def footers(orig):
            # parquet footer reads of web_crawl (frontier size, lineage):
            # module functions it looks up at call time
            def read(*a, **kw):
                with rec.span("plans.epoch.footers"):
                    return orig(*a, **kw)
            return read

        for fn in ("_dir_row_count", "_lineage_from_footers"):
            self._patch(epoch_mod, fn, footers(vars(epoch_mod)[fn]))
        self._patch(ReportStore, "update_aggregate", report_update(ReportStore.update_aggregate))
        self._patch(ReportStore, "update_append", report_update(ReportStore.update_append))
        self._patch(EpochTable, "write_epoch_split", write_epoch_split)
        self._patch(IncrementalSeen, "fold", fold)
        self._patch(IncrementalSeen, "rebuild_if_needed", rebuild_if_needed)
        self._patch(IncrementalSeen, "bc", property(bc))
        return self

    def __exit__(self, *exc) -> None:
        for cls, attr, orig in reversed(self._undo):
            setattr(cls, attr, orig)
        self._undo.clear()


def jvm_proc():
    """The Spark JVM this process started (a ``Popen``), or None."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks incl. reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        table[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    """``root`` and every process below it."""
    table = _proc_table() if table is None else table
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c, (p, _) in table.items() if p == pid)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants
    (the JVM and its Python workers), reaped children included."""
    table = _proc_table()
    ticks = sum(table[p][1] for p in descendants(root, table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


# HotSpot names its JIT compiler threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>"; /proc keeps the first 15 characters
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_ticks(pid: int) -> dict[int, int]:
    """Thread id -> CPU clock ticks of the JIT compiler threads of ``pid``."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the thread ended meanwhile
        out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


class CpuClock:
    """CPU seconds of the process tree under ``root``, split into the JVM's
    JIT compilation and everything else (the work).

    The JIT compiler's share depends on how far the JVM has got in
    compiling its hot code, not on the work of the interval: it falls
    pass after pass for minutes. A compiler thread that ends within an
    interval leaves its CPU of that interval in the work share."""

    def __init__(self, root: int, jvm: int):
        self.root, self.jvm = root, jvm

    def read(self) -> tuple[float, dict[int, int]]:
        return tree_cpu_s(self.root), jit_ticks(self.jvm)

    @staticmethod
    def split(before, after) -> tuple[float, float]:
        """(work CPU s, JIT CPU s) between two ``read()`` results."""
        jit = sum(t - before[1].get(tid, 0) for tid, t in after[1].items()) / os.sysconf("SC_CLK_TCK")
        return after[0] - before[0] - jit, jit
