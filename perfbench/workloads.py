"""The benchmark's workloads: two crawl shapes and one query suite.

Every workload goes through the library API a user calls: the session
comes from ``get_spark`` with its defaults, crawls from ``web_crawl``
with ``CrawlConfig()`` defaults except the fields a shape names, and
queries from ``__spark_entry__.queries()``. The seed only shapes the
generated inputs (and the query order); the program sees parquet files.

A workload is run as a closed loop of *passes*. A pass is one complete
unit of user work and starts only after the previous one finished:

* a crawl pass runs the shape's last ``web_crawl`` segment, with
  ``update_reports`` after it when the shape asks for it, on a copy of
  the state the earlier segments left (so it resumes that crawl); a
  one-segment shape runs it on a fresh state dir;
* a query pass runs each panel query once, in the seed's order.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import checks

# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CrawlShape:
    n_pages: int
    n_hosts: int
    n_outlinks: int
    words_base: int
    words_spread: int
    seed_share: float            # share of pages in the seed list
    budget: tuple[int, int]      # per-host tokens per epoch, inclusive range
    segments: tuple[int, ...]    # max_epochs of each web_crawl call on one state dir
    overrides: dict = field(default_factory=dict)  # CrawlConfig fields the shape names
    reports: bool = False        # update_reports after each segment
    simulate: bool = False       # check visit order against the reference simulator


# ``bloom_min_seen=0`` is the only bloom setting the benchmark overrides:
# the default activates the bloom at 2M final urls, beyond what a bench
# run on a small box can crawl, and forcing it on runs the unchanged
# bloom code from epoch 0.
CRAWL_SHAPES = {
    "full": {
        "crawl-bulk": CrawlShape(
            n_pages=40_000, n_hosts=500, n_outlinks=8,
            words_base=60, words_spread=41,
            seed_share=0.4, budget=(1_000_000, 2_000_000), segments=(3,),
            overrides={"default_budget": 1_000_000},
        ),
        "crawl-polite-resume": CrawlShape(
            n_pages=12_000, n_hosts=100, n_outlinks=3,
            words_base=0, words_spread=1,
            seed_share=0.4, budget=(8, 12), segments=(1, 2),
            overrides={"bloom_min_seen": 0},
            reports=True, simulate=True,
        ),
    },
    "smoke": {
        "crawl-bulk": CrawlShape(
            n_pages=2_000, n_hosts=50, n_outlinks=8,
            words_base=60, words_spread=41,
            seed_share=0.4, budget=(1_000_000, 2_000_000), segments=(3,),
            overrides={"default_budget": 1_000_000},
        ),
        "crawl-polite-resume": CrawlShape(
            n_pages=1_500, n_hosts=20, n_outlinks=3,
            words_base=0, words_spread=1,
            seed_share=0.4, budget=(4, 6), segments=(1, 2),
            overrides={"bloom_min_seen": 0},
            reports=True, simulate=True,
        ),
    },
}

# the fetch "day" of an epoch in the report log (see report_log)
REPORT_DAY0 = dt.datetime(2024, 6, 1)


def write_crawl_inputs(spark, out_dir: str, shape: CrawlShape, seed: int) -> None:
    """Pages from ``crawlspark.testdata.build_pages``; the seed list, the
    robots rules and the per-host budgets are drawn from ``seed``."""
    from pyspark.sql import functions as F

    from crawlspark.testdata import build_pages, pages_only

    full = build_pages(
        spark, shape.n_pages, n_hosts=shape.n_hosts,
        n_outlinks=shape.n_outlinks,
        n_words_base=shape.words_base, n_words_spread=shape.words_spread,
    )
    scale = 1 << 20

    def draw(salt: str, col) -> "F.Column":
        return F.pmod(F.xxhash64(F.lit(f"{seed}/{salt}"), col), F.lit(scale))

    os.makedirs(out_dir, exist_ok=True)
    pages_path = os.path.join(out_dir, "pages.parquet")
    pages_only(full).write.mode("overwrite").parquet(pages_path)
    # the side tables read back only the url column of the written pages
    urls = spark.read.parquet(pages_path).select("url")
    url = F.col("url")
    seeds = urls.where(draw("seed", url) < int(shape.seed_share * scale)).select(
        "url", F.pmod(draw("priority", url), F.lit(3)).cast("int").alias("priority")
    )
    hosts = urls.select(F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")).distinct()
    host = F.col("host")
    robots = hosts.select(
        "host",
        F.when(F.pmod(draw("robots", host), F.lit(4)) == 0, F.array(F.lit("/private/")))
        .otherwise(F.array().cast("array<string>"))
        .alias("disallow_prefixes"),
    )
    lo, hi = shape.budget
    budgets = hosts.select(
        "host",
        (F.lit(lo) + F.pmod(draw("budget", host), F.lit(hi - lo + 1))).cast("int").alias("tokens_per_epoch"),
    )
    for name, df in {"seeds": seeds, "robots": robots, "host_budgets": budgets}.items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def read_crawl_inputs(spark, in_dir: str) -> dict:
    return {
        name: spark.read.parquet(os.path.join(in_dir, f"{name}.parquet"))
        for name in ("pages", "seeds", "robots", "host_budgets")
    }


def report_log(spark, state_dir: str):
    """The crawl's own append log for the incremental reports: one row
    per ok fetch, stamped with the fetch epoch as a day. ``update_reports``
    consumes a log whose timestamps only grow; ``warc_ts`` of fetched
    pages is in discovery order, not in fetch order, so it does not
    qualify."""
    from pyspark.sql import functions as F

    from crawlspark.plans.state import CrawlState

    day0 = int(REPORT_DAY0.replace(tzinfo=dt.timezone.utc).timestamp())
    return (
        CrawlState(state_dir).fetched.read(spark)
        .where(F.col("status") == "ok")
        .select("url", F.timestamp_seconds(F.lit(day0) + F.col("epoch") * 86400).alias("warc_ts"))
    )


@dataclass
class PassResult:
    pass_s: float
    cpu_s: float = 0.0                 # process-tree CPU seconds of the parts, JIT excluded
    jit_cpu_s: float = 0.0             # the JVM's JIT compilation in the parts
    parts: list = field(default_factory=list)     # (name, wall s, CPU s) of each timed call
    crawl_s: float = 0.0
    urls: int = 0                      # scheduled + final-fetched
    steps_s: list = field(default_factory=list)   # epoch wall times
    resume_s: float | None = None
    ops: int = 0
    stats: list = field(default_factory=list)     # per-segment epoch stats
    state_dir: str | None = None
    report_dir: str | None = None
    digests: dict = field(default_factory=dict)   # query name -> result digest

    @contextmanager
    def part(self, name: str):
        """Time one call of the pass: wall seconds, and process-tree CPU
        seconds without the JVM's JIT compilation (see ``CpuClock``)."""
        from perfbench.tracing import CpuClock, jvm_proc

        clock = CpuClock(os.getpid(), jvm_proc().pid)
        t0, cpu0 = time.time(), clock.read()
        yield
        wall, (cpu, jit) = time.time() - t0, clock.split(cpu0, clock.read())
        self.parts.append((name, wall, cpu))
        self.cpu_s += cpu
        self.jit_cpu_s += jit


def part_medians(passes: list[PassResult]) -> dict[str, tuple[float, float]]:
    """Per part name, the median wall and CPU seconds over the passes."""
    samples: dict[str, list] = {}
    for p in passes:
        for name, wall, cpu in p.parts:
            samples.setdefault(name, []).append((wall, cpu))
    return {n: (_median([w for w, _ in v]), _median([c for _, c in v])) for n, v in samples.items()}


class CrawlWorkload:
    kind = "crawl"
    # A pass takes 10-14 s; with the setup, one timed pass is what a run
    # can afford in the time an evaluation allows (see README.md).
    min_passes = 1

    def __init__(self, name: str, shape: CrawlShape, seed: int, work: str):
        self.name, self.shape, self.seed, self.work = name, shape, seed, work
        self.inputs: str | None = None
        self.base: PassResult | None = None   # the crawl's start, run by warm_up

    def materialise(self, spark) -> None:
        self.inputs = os.path.join(self.work, "inputs")
        write_crawl_inputs(spark, self.inputs, self.shape, self.seed)

    def warm_up(self, spark, inst, rec) -> None:
        """Start the crawl. Every segment but the last runs once, here,
        on the base state dir that each pass copies, and then one untimed
        pass: the timed passes measure the resumed crawl in a warm
        process, as the epochs of a long crawl run. A one-segment shape
        only starts the Python workers and loads the extraction UDF, as
        ``crawlspark.bench_crawl`` does."""
        from pyspark.sql import functions as F

        from crawlspark.functions.extract import extract_text_udf

        if len(self.shape.segments) > 1:
            self.base = PassResult(pass_s=0.0)
            self._segments(spark, inst, rec, os.path.join(self.work, "base"), self.base, self.shape.segments[:-1])
            self.prepare_pass(-1)
            self.cleanup_pass(self.run_pass(spark, inst, rec, -1))
            return
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark.range(n * 64).repartition(n).select(
            extract_text_udf(F.encode(F.lit("<p>warm</p>"), "UTF-8")).alias("t")
        ).write.format("noop").mode("overwrite").save()

    def prepare_pass(self, idx: int) -> None:
        """A fresh pass dir, a copy of the base state when there is one."""
        out_dir = os.path.join(self.work, f"pass{idx}")
        shutil.rmtree(out_dir, ignore_errors=True)
        if self.base is not None:
            shutil.copytree(os.path.join(self.work, "base"), out_dir)

    def run_pass(self, spark, inst, rec, idx: int) -> PassResult:
        res = PassResult(pass_s=0.0)
        segments = self.shape.segments[-1:] if self.base is not None else self.shape.segments
        t_pass = time.time()
        self._segments(spark, inst, rec, os.path.join(self.work, f"pass{idx}"), res, segments)
        res.pass_s = time.time() - t_pass
        return res

    def _segments(self, spark, inst, rec, out_dir: str, res: PassResult, segments: tuple) -> None:
        """One ``web_crawl`` call per segment on the state dir under
        ``out_dir`` (a call on a state dir with commits is a resume),
        each followed by ``update_reports`` when the shape asks for it."""
        from crawlspark.plans.epoch import CrawlConfig, web_crawl
        from crawlspark.plans.reports import update_reports

        res.state_dir = state_dir = os.path.join(out_dir, "state")
        res.report_dir = report_dir = os.path.join(out_dir, "reports")
        inp = read_crawl_inputs(spark, self.inputs)
        for max_epochs in segments:
            resumed = os.path.exists(os.path.join(state_dir, "_commits.json"))
            cfg = CrawlConfig(max_epochs=max_epochs, **self.shape.overrides)
            n_before = len(inst.commits)
            t0 = time.time()
            with res.part("web_crawl"), rec.span("plans.epoch.web_crawl", resumed=resumed):
                stats = web_crawl(
                    spark, inp["pages"], state_dir, inp["seeds"],
                    robots=inp["robots"], host_budgets=inp["host_budgets"], config=cfg,
                )
            res.crawl_s += time.time() - t0
            res.stats.append(stats)
            res.urls += sum(s["urls_dequeued"] + s["urls_fetched"] + s["urls_failed"] for s in stats)
            prev = t0
            for i, (_epoch, at) in enumerate(inst.commits[n_before:]):
                res.steps_s.append(at - prev)
                if resumed and i == 0:
                    res.resume_s = at - t0
                prev = at
            res.ops += len(stats)
            if self.shape.reports:
                with res.part("update_reports"), rec.span("plans.reports.update_reports"):
                    applied = update_reports(spark, report_log(spark, state_dir), report_dir)
                rec.count("plans.reports.rows_applied", sum(applied.values()))
                res.ops += 1

    def check(self, spark, passes: list[PassResult]) -> checks.Tally:
        """Full checks on the first pass; every later pass must commit
        exactly the same epoch stats (same inputs, same config)."""
        from crawlspark.plans.epoch import CrawlConfig

        tally = checks.Tally()
        first = passes[0]
        returned = (self.base.stats if self.base is not None else []) + first.stats
        checks.crawl_invariants(spark, tally, self.inputs, first.state_dir, returned)
        if self.shape.reports:
            checks.reports_match(spark, tally, first.report_dir, report_log(spark, first.state_dir))
        if self.shape.simulate:
            checks.matches_simulator(
                spark, tally, self.inputs, first.state_dir,
                max_epochs=self.shape.segments[-1],
                default_budget=CrawlConfig(**self.shape.overrides).default_budget,
            )
        for p in passes[1:]:
            tally.record("same epoch stats as the first pass", p.stats == first.stats)
        return tally

    def summary(self, passes: list[PassResult]) -> dict:
        """Workload-specific end-to-end figures, by the names users know."""
        out = {
            "crawl_urls_per_s": (self.work_per_s(passes), "urls/s"),
            "epoch_s_p50": (_median([s for p in passes for s in p.steps_s]), "s"),
            "epochs": (sum(len(p.steps_s) for p in passes), "count"),
        }
        if any(p.resume_s is not None for p in passes):
            out["resume_s"] = (_median([p.resume_s for p in passes if p.resume_s is not None]), "s")
        if self.shape.reports:
            out["report_update_s"] = (part_medians(passes)["update_reports"][0], "s")
        return out

    def work_per_s(self, passes: list[PassResult]) -> float:
        return _median([p.urls / p.crawl_s for p in passes])

    def cleanup_pass(self, p: PassResult) -> None:
        shutil.rmtree(os.path.dirname(p.state_dir), ignore_errors=True)

    def step_s_p50(self, passes: list[PassResult]) -> float:
        return _median([s for p in passes for s in p.steps_s])


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# A fixed panel of the bench.py headliners, about one per operator
# family, sized so that a warm-up pass and the timed passes fit in one
# run. The seed permutes the order.
QUERY_PANEL = {
    "full": [
        "frontier_dequeue", "cursor_range_filter", "count_by_day_type",
        "merge_aggregate", "pricing_summary", "dedup_exact", "token_count",
        "embedding_topk", "gopher_quality", "url_trap_filter",
        "host_curation", "admissible_links",
    ],
    "smoke": ["frontier_dequeue", "count_by_day_type", "dedup_exact"],
}

QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def load_entry(root: str):
    import importlib.util

    spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryWorkload:
    kind = "queries"
    # A pass takes 5-7 s and the JVM is still compiling the queries' code
    # in the first ones: each query's median over three passes leans on
    # the warmer ones.
    min_passes = 3

    def __init__(self, name: str, panel: list[str], seed: int, work: str, root: str):
        self.name, self.seed, self.work = name, seed, work
        self.panel = list(panel)
        random.Random(seed).shuffle(self.panel)
        self.queries = load_entry(root).queries()
        self.inputs: str | None = None

    def materialise(self, spark) -> None:
        """Copy the fixed corpus into the run's work dir: the queries read
        fresh files, as a user's first query over delivered data does."""
        self.inputs = os.path.join(self.work, "inputs")
        shutil.copytree(QUERY_DATA, self.inputs, dirs_exist_ok=True)

    def warm_up(self, spark, inst, rec) -> None:
        """One untimed pass: the same plans the timed passes run."""
        self.warm = self.run_pass(spark, inst, rec, -1)

    def prepare_pass(self, idx: int) -> None:
        pass

    def run_pass(self, spark, inst, rec, idx: int) -> PassResult:
        """Each query is forced by computing its digest (every column of
        every row is hashed, then one small aggregate), so every timed
        execution is also checked."""
        res = PassResult(pass_s=0.0)
        t_pass = time.time()
        for name in self.panel:
            # construction inside the window: some operators run eager
            # checkpoints while the plan is built
            with res.part(name), rec.span(f"queries.{name}"):
                res.digests[name] = checks.digest(self.queries[name](spark, self.inputs))
            res.ops += 1
        res.pass_s = time.time() - t_pass
        return res

    def check(self, spark, passes: list[PassResult]) -> checks.Tally:
        tally = checks.Tally()
        want = checks.recorded_digests()
        for p in [self.warm, *passes]:
            for name, got in p.digests.items():
                tally.record(f"query {name} digest", list(got) == want.get(name))
        return tally

    def summary(self, passes: list[PassResult]) -> dict:
        per = [w for w, _ in part_medians(passes).values()]
        return {
            "queries_total_s": (sum(per), "s"),
            "query_s_p50": (_median(per), "s"),
            "queries": (len(per), "count"),
        }

    def work_per_s(self, passes: list[PassResult]) -> float:
        return len(self.panel) / sum(w for w, _ in part_medians(passes).values())

    def step_s_p50(self, passes: list[PassResult]) -> float:
        return _median([w for w, _ in part_medians(passes).values()])

    def cleanup_pass(self, p: PassResult) -> None:
        pass


def _median(xs: list[float]) -> float:
    import statistics

    return statistics.median(xs)


WORKLOADS = ("crawl-bulk", "crawl-polite-resume", "curation-queries")


def make(name: str, size: str, seed: int, work: str, root: str):
    if name == "curation-queries":
        return QueryWorkload(name, QUERY_PANEL[size], seed, work, root)
    return CrawlWorkload(name, CRAWL_SHAPES[size][name], seed, work)
