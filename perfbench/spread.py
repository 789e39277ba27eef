"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload crawl-polite-resume --seeds 1-10

Runs ``run.py`` once per seed (one after another, never in parallel) and
prints, per metric, the median and the distance between the first and
third quartile as a share of the median, next to the metric's bound in
BENCHMARK.json. The ungated wall-clock figures (``wall.*``) are
summarised the same way. Run it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds_of(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        walls.append(time.time() - t0)
        if proc.returncode != 0:
            sys.exit(f"seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
        lines = proc.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        figures = " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
        # the box-noise diagnostics of the run, from the line before the result
        detail = json.loads(lines[-2].removeprefix("perfbench: "))
        print(f"seed {seed}: {walls[-1]:.0f} s, correct={out['correct']} "
              f"failed={out['failed']}/{out['attempted']} {figures} "
              f"control_s={detail['control_s']:.3g} load1={detail['load1_before']:.2f}", flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k, v in detail.items():
            if k.startswith("wall."):  # shown, not gated
                values.setdefault(k, []).append(v[0])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"wall per run: median {statistics.median(walls):.0f} s, max {max(walls):.0f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:40s} median {med:12.4f}  iqr/median {share:6.3f}  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
