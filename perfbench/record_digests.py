"""Record the query digests the curation-queries workload checks against.

    python3 perfbench/record_digests.py

Run it from the root of a checkout whose queries pass the DuckDB oracle
parity tests (``tests/test_oracle_parity.py``). It digests every query
of the full panel over ``perfbench/data/sf0.01`` and writes
``perfbench/query_digests.json``. Every curation-queries run checks its
results against that file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import checks, run, workloads  # noqa: E402


def main() -> None:
    run.check_checkout()
    work = os.path.join(run.ROOT, ".bench_work", f"digests-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run.isolate(work, len(os.sched_getaffinity(0)))
    try:
        spark = run.start_session()
        queries = workloads.load_entry(run.ROOT).queries()
        got = {
            name: list(checks.digest(queries[name](spark, workloads.QUERY_DATA)))
            for name in sorted(workloads.QUERY_PANEL["full"])
        }
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(checks.DIGESTS, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(got)} digests to {checks.DIGESTS}")


if __name__ == "__main__":
    main()
