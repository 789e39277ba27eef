"""The benchmark's own tests: its bookkeeping, its refusal to run
without the program, and a smoke-size run of every workload (every
correctness check and the traced run; a few minutes in all).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.layers import split_wall  # noqa: E402
from perfbench.tracing import Recorder, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def test_self_times_add_up_to_the_root_span():
    rec = Recorder(enabled=True)
    with rec.span("root"):
        with rec.span("child"):
            with rec.span("grandchild"):
                pass
        with rec.span("child"):
            pass
    root = rec.finished()[0]
    assert sum(self_times(rec.finished()).values()) == pytest.approx(root["end"] - root["start"])


class _Log:
    """Three stages: two overlapping, one later; a gap between them."""

    stages = {1: {"start": 0.0, "end": 2.0}, 2: {"start": 1.0, "end": 3.0}, 3: {"start": 5.0, "end": 6.0}}
    layers = {1: "fetch_join", 2: "politeness", 3: "write"}

    def stages_in(self, lo, hi):
        return [s for s, st in self.stages.items() if st["end"] > lo and st["start"] < hi]

    def stage_layer(self, sid):
        return self.layers[sid]


def test_split_wall_shares_overlaps_and_accounts_for_the_window():
    parts = split_wall(_Log(), 0.0, 7.0)
    assert parts == pytest.approx({"fetch_join": 1.5, "politeness": 1.5, "write": 1.0, "gap": 3.0})
    assert sum(parts.values()) == pytest.approx(7.0)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(BENCH["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_smoke_run_reports_every_end_to_end_metric(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["crawl-bulk"])
def test_traced_smoke_run_reports_every_per_layer_metric(workload):
    proc = _run(workload, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0, proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert {k: got.get(k) for k in want} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if workload.startswith("crawl"):
        parts = ("driver_gap_s", "fetch_join_s", "frontier_s", "other_stage_s")
        total = sum(m[f"plans.epoch.{p}"] for p in parts) + m["operators.politeness.window_s"] \
            + m["operators.bloom.stage_s"] + m["sources.tables.write_stage_s"]
        assert total == pytest.approx(m["trace.epoch_wall_s"], rel=1e-3)
    if workload == "crawl-bulk":
        assert m["scaling.efficiency"] > 0 and m["operators.bloom.folds"] == 0
    if workload == "crawl-polite-resume":
        assert m["operators.bloom.folds"] > 0 and m["operators.bloom.bytes_to_driver"] > 0
        assert 0 < m["operators.politeness.dequeue_ratio"] < 1
    if workload == "curation-queries":
        assert all(m[k] > 0 for k in want if k.startswith("queries.") and k[8:-2] in _smoke_panel())


def _smoke_panel() -> list[str]:
    from perfbench.workloads import QUERY_PANEL

    return QUERY_PANEL["smoke"]
