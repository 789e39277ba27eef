"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload crawl-polite-resume --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It imports ``crawlspark`` and
``__spark_entry__`` from that checkout and writes only under
``.bench_work/`` there (the directory is removed at the end).

The run: start the session in a new JVM several times (``setup_s``
takes the median), write the seeded inputs, warm up once, time a closed
loop of passes for ``--seconds`` and at least the workload's minimum of
passes, then check the outputs. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the workload's own figures
and the box-noise diagnostics. See README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CONTROL_ROWS = 5_000_000


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs for the benchmark's own tests")
    return ap.parse_args(argv)


def check_checkout() -> None:
    """Fail before doing anything when the program is not beside the
    benchmark (a directory holding only the benchmark's own files)."""
    missing = [p for p in ("crawlspark/__init__.py", "__spark_entry__.py", "tests/simulator.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a crawlspark checkout, missing {', '.join(missing)}")


def isolate(work: str, cores: int) -> None:
    """Keep every file the run writes (JVM and Python temp files, Spark's
    scratch space, the executor zip of the package) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)

    import crawlspark.session as session

    # get_spark zips the package for the executors into a fixed path under
    # the system temp dir; point the default into the run's work dir
    package = session.package_pyfiles
    session.package_pyfiles = lambda out_path=None: package(out_path or os.path.join(tmp, "crawlspark_pyfiles.zip"))


# -- processes --------------------------------------------------------------

def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's peak-RSS counter (``VmHWM``) of ``pid``."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # peak then counts from process start: still a peak


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm() -> None:
    """Stop the session, then the JVM it started and its Python workers,
    and wait for them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.tracing import descendants, jvm_proc

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = jvm_proc()
    workers = descendants(proc.pid)[1:] if proc is not None else []
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the Python worker daemons exit once the JVM is gone
    deadline = time.time() + 15
    while workers and time.time() < deadline:
        workers = [p for p in workers if _running(p)]
        time.sleep(0.1)
    for pid in workers:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # ended meanwhile


# -- session ----------------------------------------------------------------

def eventlog_conf(evdir: str) -> dict:
    os.makedirs(evdir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evdir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def start_session(master: str | None = None, extra_conf: dict | None = None):
    from crawlspark.session import get_spark

    return get_spark("perfbench", master=master, extra_conf=extra_conf)


def restart_session(master: str | None = None, extra_conf: dict | None = None):
    """A fresh SparkContext in the same JVM."""
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
    return start_session(master, extra_conf)


def control_s(spark) -> float:
    """md5 over a range, the box-speed control job of bench.py."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (spark.range(CONTROL_ROWS).select(F.md5(F.col("id").cast("string")).alias("h"))
     .write.format("noop").mode("overwrite").save())
    return time.time() - t0


# -- the timed loop -----------------------------------------------------------

def timed_loop(spark, wl, inst, rec, seconds: float, first_idx: int = 0,
               min_passes: int = 1) -> tuple[list, int]:
    """Closed loop of passes for ``seconds`` and at least ``min_passes``
    passes. Returns (passes, failed operations)."""
    passes, failed = [], 0
    t_end = time.time() + seconds
    idx = first_idx
    while True:
        try:
            wl.prepare_pass(idx)
            passes.append(wl.run_pass(spark, inst, rec, idx))
        except Exception as e:  # an operation that raises is a failed operation
            failed += 1
            print(f"perfbench: pass {idx} failed: {e!r}", file=sys.stderr)
        idx += 1
        if (time.time() >= t_end and len(passes) >= min_passes) or failed:
            return passes, failed
        if len(passes) > 1:
            wl.cleanup_pass(passes[-1])


def wall_figures(wl, passes: list, rss_jvm: float) -> dict:
    """Wall-clock figures of the timed passes, shown on every run and
    reported by traced runs (see README.md)."""
    return {
        "wall.work_per_s": (wl.work_per_s(passes), "1/s"),
        "wall.step_s_p50": (wl.step_s_p50(passes), "s"),
        "spark.jvm_rss_peak_mb": (rss_jvm, "MB"),
    }


def run(args) -> dict:
    from perfbench import layers, workloads
    from perfbench.tracing import Instrumented, Recorder, jvm_proc

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work, cores)
    diag = {"cores": cores, "load1_before": os.getloadavg()[0], "workload": args.workload,
            "seed": args.seed, "size": args.size}
    wl = workloads.make(args.workload, args.size, args.seed, work, ROOT)
    try:
        # setup: SETUP_REPS cold session starts, each in a new JVM, then
        # the inputs, written once as the first work of the last JVM
        session_s = []
        spark = None
        for _ in range(SETUP_REPS):
            if spark is not None:
                stop_jvm()
            t0 = time.time()
            spark = start_session()
            session_s.append(time.time() - t0)
        t0 = time.time()
        wl.materialise(spark)
        inputs_s = time.time() - t0
        diag["session_s_each"] = [round(s, 3) for s in session_s]
        diag["inputs_s"] = inputs_s

        rec_off = Recorder(enabled=False)
        with Instrumented(rec_off) as inst:
            t0 = time.time()
            wl.warm_up(spark, inst, rec_off)
            warmup_s = time.time() - t0
            diag["warmup_s"] = warmup_s
            setup_s = statistics.median(session_s) + inputs_s + warmup_s

            diag["control_s"] = control_s(spark)
            pids = (os.getpid(), jvm_proc().pid)
            for pid in pids:
                reset_peak_rss(pid)
            seconds = args.seconds / 2 if args.trace else args.seconds
            t0 = time.time()
            # a traced run's passes only feed the per-layer metrics
            passes, failed_ops = timed_loop(spark, wl, inst, rec_off, seconds,
                                            min_passes=1 if args.trace else wl.min_passes)
            diag["window_s"] = time.time() - t0
            rss = tuple(peak_rss_mb(pid) for pid in pids)

        if not passes:
            raise RuntimeError("no pass completed")
        t0 = time.time()
        tally = wl.check(spark, passes)
        diag["checks_s"] = time.time() - t0
        attempted = sum(p.ops for p in passes) + failed_ops + tally.attempted
        failed = failed_ops + len(tally.failures)
        for f in tally.failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
        # a pass's wall and CPU time: the sum over its calls (each crawl
        # call and report update, or each query) of the call's median
        parts = workloads.part_medians(passes).values()
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (sum(c for _, c in parts), "s"),
            "pass_wall_s": (sum(w for w, _ in parts), "s"),
            "driver_rss_peak_mb": (rss[0], "MB"),
        }
        wall = wall_figures(wl, passes, rss[1])
        diag.update(wl.summary(passes))
        diag["passes"] = len(passes)
        diag["pass_wall_s_each"] = [round(p.pass_s, 3) for p in passes]
        diag["pass_cpu_s_each"] = [round(p.cpu_s, 3) for p in passes]
        diag["pass_jit_cpu_s_each"] = [round(p.jit_cpu_s, 3) for p in passes]

        metrics = e2e
        if args.trace:
            evdir = os.path.join(work, "eventlog")
            metrics = layers.traced(
                wl, args, timed_loop, restart_session, eventlog_conf(evdir), evdir,
                untraced=passes, untraced_wall=wall,
                setup={"session.get_spark_s": statistics.median(session_s),
                       "testdata.corpus_gen_s": inputs_s,
                       "warmup_s": warmup_s},
                cores=cores,
            )
        return {
            "detail": {k: (round(v[0], 4), v[1]) if isinstance(v, tuple) else v
                       for k, v in {**diag, **wall, **e2e}.items()},
            "result": {
                "correct": failed == 0,
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
            },
        }
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def main(argv=None) -> None:
    args = parse_args(argv)
    check_checkout()
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    out = run(args)
    print("perfbench: " + json.dumps(out["detail"]))
    print(json.dumps(out["result"]), flush=True)


if __name__ == "__main__":
    main()
