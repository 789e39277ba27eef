"""Per-layer metrics of a traced run.

A traced run first times passes with tracing off, then restarts the
SparkContext with Spark's event log on (uncompressed: no ``zstandard``
module is needed) and times the same passes with spans on. The
difference of the two is the tracing overhead.

The event log splits the fused epoch job by stage and physical
operator. Each stage is given to one layer by the operators its tasks
updated metrics for (the mapping the Spark UI uses), and every instant
of an epoch's wall time is shared among the layers whose stages ran
then; instants when no stage ran are the driver gap. So the layer
stage times and the driver gap add up to the epoch wall time.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

# stage layers, in priority order: a stage belongs to the first layer
# one of its operators matches
STAGE_LAYERS = (
    # the fetch join's stage also runs the extraction UDF (and, when the
    # bloom is on, the probe of the links it yields): they are fused
    ("fetch_join", lambda name, desc: (
        (name.startswith("Scan parquet") and re.search(r"[\[,]html#\d+", desc))
        or (name == "ArrowEvalPython" and "extract_page_udf" in desc))),
    ("bloom", lambda name, desc: name == "MapInPandas" or (
        name == "ArrowEvalPython" and ("maybe_seen" in desc or "shard_of" in desc))),
    ("politeness", lambda name, desc: name == "Window"),
    ("frontier", lambda name, desc: name == "HashAggregate" and "min(" in desc),
    ("write", lambda name, desc: name.startswith("Execute InsertIntoHadoopFsRelationCommand")),
)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """Jobs, stages, tasks and SQL operator metrics of one application."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.nodes: dict[int, tuple[str, str, str, str]] = {}  # acc id -> (node, desc, metric, type)
        self.acc: dict[int, float] = defaultdict(float)         # acc id -> summed task updates
        self.stage_accs: dict[int, set] = defaultdict(set)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @staticmethod
    def find(evdir: str) -> str:
        logs = [p for p in glob.glob(os.path.join(evdir, "*")) if not p.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log in {evdir}, found {logs}")
        return logs[0]

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.nodes[m["accumulatorId"]] = (info["nodeName"], info["simpleString"], m["name"], m["metricType"])
        for c in info.get("children", []):
            self._plan(c)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(ev["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                self.nodes.setdefault(m["accumulatorId"], ("?", "", m["name"], m["metricType"]))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                self.acc[acc_id] += value
        elif kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000.0, "end": None,
                                       "result_stage": max(ev["Stage IDs"], default=None)}
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = self._stage(si["Stage ID"])
            st["start"] = (si.get("Submission Time") or 0) / 1000.0
            st["end"] = (si.get("Completion Time") or 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            tm = ev.get("Task Metrics") or {}
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rd = tm.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            st["result_bytes"] += tm.get("Result Size", 0)
            st["task_ms"].append(tm.get("Executor Run Time", 0))
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    self.acc[a["ID"]] += float(upd)
                    self.stage_accs[ev["Stage ID"]].add(a["ID"])

    def _stage(self, sid: int) -> dict:
        if sid not in self.stages:
            self.stages[sid] = {"start": 0.0, "end": 0.0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                                "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "result_bytes": 0,
                                "task_ms": []}
        return self.stages[sid]

    # -- queries over the log ------------------------------------------------

    def stage_layer(self, sid: int) -> str:
        ops = {self.nodes[a][:2] for a in self.stage_accs.get(sid, ()) if a in self.nodes}
        for layer, match in STAGE_LAYERS:
            if any(match(name, desc) for name, desc in ops):
                return layer
        return "other"

    def stages_in(self, lo: float, hi: float) -> list[int]:
        return [s for s, st in self.stages.items() if st["end"] > lo and st["start"] < hi and st["end"]]

    def jobs_in(self, lo: float, hi: float) -> list[dict]:
        return [j for j in self.jobs.values() if j["end"] and j["start"] >= lo and j["start"] < hi]

    def result_bytes(self, lo: float, hi: float) -> float:
        """Bytes the result tasks of the jobs started in [lo, hi) sent
        to the driver (serialized task results)."""
        return sum(self.stages[j["result_stage"]]["result_bytes"] for j in self.jobs_in(lo, hi)
                   if j["result_stage"] in self.stages)

    def metric(self, metric: str, node=None, desc=None, stages=None) -> float:
        """Sum of an operator metric over matching nodes (task updates,
        plus driver-side updates when ``stages`` is None)."""
        total = 0.0
        accs = None if stages is None else set().union(*(self.stage_accs.get(s, set()) for s in stages))
        for acc_id, (name, d, m, _t) in self.nodes.items():
            if m != metric or (node and name != node) or (desc and not re.search(desc, d)):
                continue
            if accs is not None and acc_id not in accs:
                continue
            total += self.acc.get(acc_id, 0.0)
        return total

    def metric_type(self, metric: str, node: str) -> str | None:
        for name, _d, m, t in self.nodes.values():
            if m == metric and name == node:
                return t
        return None


def split_wall(log: EventLog, lo: float, hi: float) -> dict[str, float]:
    """Share the wall interval [lo, hi] among the layers of the stages
    running in it; time with no stage running is ``gap``."""
    spans = []
    for sid in log.stages_in(lo, hi):
        st = log.stages[sid]
        spans.append((max(st["start"], lo), min(st["end"], hi), log.stage_layer(sid)))
    points = sorted({lo, hi, *[s for s, _, _ in spans], *[e for _, e, _ in spans]})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(points, points[1:]):
        active = [layer for s, e, layer in spans if s <= a and e >= b]
        if not active:
            out["gap"] += b - a
        else:
            for layer in active:
                out[layer] += (b - a) / len(active)
    return dict(out)


def to_seconds(value: float, metric_type: str | None) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1000.0


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def traced(wl, args, timed_loop, restart, eventlog_conf: dict, evdir: str,
           untraced: list, untraced_wall: dict, setup: dict, cores: int) -> dict:
    """Per-layer metrics. ``untraced`` are the run's first passes, timed
    in the setup context. Then come passes in a fresh context with the
    event log and spans on, then passes in a fresh plain context; the
    tracing overhead compares those two, which both start from the same
    warm JVM."""
    from perfbench.tracing import Instrumented, Recorder, self_times

    half = args.seconds / 2
    rec = Recorder(enabled=True)
    spark = restart(extra_conf=eventlog_conf)
    with Instrumented(rec) as inst:
        traced_passes, _ = timed_loop(spark, wl, inst, rec, half, first_idx=1000)
        commits = list(inst.commits)
    spark = restart()   # stopping the traced context finishes its event log
    off = Recorder(enabled=False)
    with Instrumented(off) as inst:
        plain_passes, _ = timed_loop(spark, wl, inst, off, half, first_idx=2000)
    log = EventLog(EventLog.find(evdir))
    spans = rec.finished()
    # the run's work dir is removed at the end; the spans stay beside it
    rec.dump(os.path.join(os.path.dirname(os.path.dirname(evdir)), f"spans-{wl.name}-{args.seed}.json"))

    m: dict[str, tuple[float, str]] = {k: (v, "s") for k, v in setup.items()}
    m.update(untraced_wall)
    traced_s = _median(p.pass_s for p in traced_passes)
    plain_s = _median(p.pass_s for p in plain_passes)
    m["trace.overhead_s"] = (traced_s - plain_s, "s")
    m["trace.overhead_ratio"] = ((traced_s - plain_s) / plain_s, "ratio")
    m["trace.overhead_cpu_s"] = (_median(p.cpu_s for p in traced_passes)
                                 - _median(p.cpu_s for p in plain_passes), "s")

    lo = min(s["start"] for s in spans) if spans else 0.0
    hi = max(s["end"] for s in spans) if spans else 0.0
    m.update(_engine(log, lo, hi, cores))
    if wl.kind == "crawl":
        m.update(_crawl_layers(log, spans, self_times(spans), commits, traced_passes, rec))
    else:
        m.update(_crawl_layers(log, [], {}, [], [], rec))
    from perfbench.workloads import QUERY_PANEL

    for name in sorted(QUERY_PANEL["full"]):
        qs = [s["end"] - s["start"] for s in spans if s["name"] == f"queries.{name}"]
        m[f"queries.{name}_s"] = (_median(qs), "s")
    if wl.name == "crawl-bulk":
        m.update(_scaling(wl, restart, timed_loop, untraced + plain_passes, cores))
    return m


def _engine(log: EventLog, lo: float, hi: float, cores: int) -> dict:
    sids = log.stages_in(lo, hi)
    st = [log.stages[s] for s in sids]
    run_s = sum(s["run_ms"] for s in st) / 1000.0
    skews = [max(s["task_ms"]) / statistics.median(s["task_ms"])
             for s in st if len(s["task_ms"]) >= 2 and statistics.median(s["task_ms"]) > 0]
    return {
        "spark.executor_run_s": (run_s, "s"),
        "spark.executor_cpu_s": (sum(s["cpu_ns"] for s in st) / 1e9, "s"),
        "spark.gc_s": (sum(s["gc_ms"] for s in st) / 1000.0, "s"),
        "spark.shuffle_write_bytes": (sum(s["shuffle_write"] for s in st), "bytes"),
        "spark.shuffle_read_bytes": (sum(s["shuffle_read"] for s in st), "bytes"),
        "spark.spill_bytes": (sum(s["spill"] for s in st), "bytes"),
        "spark.task_skew_max": (max(skews) if skews else 0.0, "ratio"),
        "spark.occupancy": (run_s / (cores * (hi - lo)) if hi > lo else 0.0, "ratio"),
    }


def _crawl_layers(log: EventLog, spans, self_s, commits, passes, rec) -> dict:
    """Per-epoch means of the crawl layers; all zero when no crawl ran."""
    calls = [s for s in spans if s["name"] == "plans.epoch.web_crawl"]
    windows = []   # (epoch start, commit) of every traced epoch
    for call in calls:
        prev = call["start"]
        for _epoch, at in commits:
            if call["start"] <= at <= call["end"]:
                windows.append((prev, at))
                prev = at
    n = max(len(windows), 1)
    split: dict[str, float] = defaultdict(float)
    jobs = []
    for lo, hi in windows:
        for k, v in split_wall(log, lo, hi).items():
            split[k] += v
        jobs.append(len(log.jobs_in(lo, hi)))
    epoch_stages = [s for lo, hi in windows for s in log.stages_in(lo, hi)]
    dequeued = sum(s["urls_dequeued"] for p in passes for seg in p.stats for s in seg)

    def per_epoch(v: float) -> float:
        return v / n if windows else 0.0

    ranked = log.metric("shuffle records written", "Exchange", r"hashpartitioning\(host#\d+, __salt", epoch_stages)
    probed, new = _bloom_probe(log, epoch_stages)
    py_type = log.metric_type("time to run Python workers", "ArrowEvalPython")
    extract = r"extract_page_udf"
    report_spans = [s for s in spans if s["name"].startswith("plans.reports.update.")]
    fold_spans = [s for s in spans if s["name"] in ("operators.bloom.fold", "operators.bloom.rebuild")]
    out = {
        "trace.epoch_wall_s": (per_epoch(sum(hi - lo for lo, hi in windows)), "s"),
        "plans.epoch.driver_gap_s": (per_epoch(split.get("gap", 0.0)), "s"),
        "plans.epoch.jobs_per_epoch": (float(_median(jobs)), "count"),
        "plans.epoch.fetch_join_s": (per_epoch(split.get("fetch_join", 0.0)), "s"),
        "plans.epoch.frontier_s": (per_epoch(split.get("frontier", 0.0)), "s"),
        "plans.epoch.other_stage_s": (per_epoch(split.get("other", 0.0)), "s"),
        "plans.epoch.frontier_shuffle_bytes": (per_epoch(log.metric(
            "shuffle bytes written", "Exchange", r"hashpartitioning\(url#\d+, \d+\), ENSURE", epoch_stages)), "bytes"),
        "plans.epoch.footers_s": (per_epoch(self_s.get("plans.epoch.footers", 0.0)), "s"),
        "plans.epoch.loop_self_s": (per_epoch(self_s.get("plans.epoch.web_crawl", 0.0)), "s"),
        "operators.politeness.rows_ranked": (per_epoch(ranked), "count"),
        "operators.politeness.dequeue_ratio": (dequeued / ranked if ranked else 0.0, "ratio"),
        "operators.politeness.window_s": (per_epoch(split.get("politeness", 0.0)), "s"),
        "operators.politeness.shuffle_bytes": (per_epoch(log.metric(
            "shuffle bytes written", "Exchange", r"hashpartitioning\(host#", epoch_stages)), "bytes"),
        "functions.extract.python_run_s": (per_epoch(to_seconds(log.metric(
            "time to run Python workers", "ArrowEvalPython", extract, epoch_stages), py_type)), "s"),
        "functions.extract.bytes_to_python": (per_epoch(log.metric(
            "data sent to Python workers", "ArrowEvalPython", extract, epoch_stages)), "bytes"),
        "functions.extract.bytes_from_python": (per_epoch(log.metric(
            "data returned from Python workers", "ArrowEvalPython", extract, epoch_stages)), "bytes"),
        "functions.extract.rows": (per_epoch(log.metric(
            "number of output rows", "ArrowEvalPython", extract, epoch_stages)), "count"),
        "operators.bloom.fold_s": (per_epoch(self_s.get("operators.bloom.fold", 0.0)
                                             + self_s.get("operators.bloom.rebuild", 0.0)), "s"),
        "operators.bloom.stage_s": (per_epoch(split.get("bloom", 0.0)), "s"),
        "operators.bloom.folds": (rec.counters.get("operators.bloom.folds", 0.0), "count"),
        "operators.bloom.bytes_to_driver": (sum(log.result_bytes(s["start"], s["end"]) for s in fold_spans), "bytes"),
        "operators.bloom.broadcast_bytes": (rec.counters.get("operators.bloom.broadcast_bytes", 0.0), "bytes"),
        "operators.bloom.residue_ratio": (1.0 - new / probed if probed else 0.0, "ratio"),
        "sources.tables.write_split_s": (per_epoch(self_s.get("sources.tables.write_split", 0.0)), "s"),
        "sources.tables.write_stage_s": (per_epoch(split.get("write", 0.0)), "s"),
        "sources.tables.files_written": (per_epoch(log.metric(
            "number of written files", None, r"_stage_pair_epoch", None)), "count"),
        "sources.tables.bytes_written": (per_epoch(log.metric(
            "written output", None, r"_stage_pair_epoch", None)), "bytes"),
        "plans.state.commit_epoch_s": (per_epoch(self_s.get("plans.state.commit_epoch", 0.0)), "s"),
        "plans.reports.rows_applied": (rec.counters.get("plans.reports.rows_applied", 0.0), "count"),
    }
    for report in ("deleted_pages", "page_count_by_day", "page_count_by_day_kind"):
        t = [s["end"] - s["start"] for s in report_spans if s["name"] == f"plans.reports.update.{report}"]
        out[f"plans.reports.update_s.{report}"] = (_median(t), "s")
    return out


def _bloom_probe(log: EventLog, stages: list[int]) -> tuple[float, float]:
    """(urls probed, urls found definitely new) on the bloom's
    definitely-new branch: the rows into ``Filter NOT <udf>`` and the
    rows out of it, where ``<udf>`` is the ``maybe_seen`` output."""
    accs = set().union(*(log.stage_accs.get(s, set()) for s in stages)) if stages else set()
    udf_rows: dict[str, float] = defaultdict(float)
    new_rows: dict[str, float] = defaultdict(float)
    for acc_id, (name, desc, metric, _t) in log.nodes.items():
        if metric != "number of output rows" or acc_id not in accs:
            continue
        if name == "ArrowEvalPython" and "maybe_seen" in desc:
            for out in re.findall(r"\[pythonUDF\d+#(\d+)\]", desc):
                udf_rows[out] += log.acc.get(acc_id, 0.0)
        elif name == "Filter":
            hit = re.match(r"Filter NOT pythonUDF\d+#(\d+)$", desc)
            if hit:
                new_rows[hit.group(1)] += log.acc.get(acc_id, 0.0)
    ids = set(new_rows) & set(udf_rows)
    return sum(udf_rows[i] for i in ids), sum(new_rows[i] for i in ids)


def _scaling(wl, restart, timed_loop, passes, cores) -> dict:
    """One untraced pass at local[1]: the N -> 4N scaling diagnostic."""
    from perfbench.tracing import Instrumented, Recorder

    spark = restart(master="local[1]")
    off = Recorder(enabled=False)
    with Instrumented(off) as inst:
        wl.warm_up(spark, inst, off)
        one, _ = timed_loop(spark, wl, inst, off, 0.0, first_idx=3000)
    ups_1 = _median(p.urls / p.crawl_s for p in one)
    ups_n = _median(p.urls / p.crawl_s for p in passes)
    return {
        "scaling.urls_per_s_local1": (ups_1, "1/s"),
        "scaling.urls_per_s_localN": (ups_n, "1/s"),
        "scaling.efficiency": (ups_n / (cores * ups_1) if ups_1 else 0.0, "ratio"),
    }
