"""Correctness checks, run after the timed window.

Each check records one attempt; a false result or an exception is one
failure. ``run.py`` adds these to the operations of the timed passes to
report ``attempted`` and ``failed``.
"""

from __future__ import annotations

import json
import os
import traceback
from dataclasses import dataclass, field

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_digests.json")


@dataclass
class Tally:
    attempted: int = 0
    failures: list = field(default_factory=list)

    def record(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def guard(self, what: str, fn) -> None:
        """Run ``fn`` (which records its own checks); an exception is one
        failed check named ``what``."""
        try:
            fn()
        except Exception:  # a check must report, not abort the run
            self.attempted += 1
            self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")


def crawl_invariants(spark, tally: Tally, inputs: str, state_dir: str, returned: list[list[dict]]) -> None:
    from pyspark.sql import functions as F

    from crawlspark.plans.state import CrawlState

    def run() -> None:
        state = CrawlState(state_dir)
        fetched = state.fetched.read(spark)
        n, n_distinct = fetched.agg(F.count("*"), F.countDistinct("url")).first()
        tally.record("fetched is url-unique", n == n_distinct)

        committed = state.log.committed_epochs()
        last = state.frontier.read(spark, epochs=[committed[-1]])
        tally.record(
            "last frontier and fetched are disjoint",
            last.join(fetched.select("url"), "url", "left_semi").count() == 0,
        )

        pages = spark.read.parquet(os.path.join(inputs, "pages.parquet")).select(
            "url", F.col("text").alias("corpus_text")
        )
        ok = fetched.where(F.col("status") == "ok").select("url", "text")
        bad = ok.join(pages, "url", "left").where(
            F.col("corpus_text").isNull() | (F.col("text") != F.col("corpus_text"))
        ).count()
        tally.record("every ok row's text equals the corpus text", bad == 0)

        stats = state.epoch_stats()
        tally.record(
            "returned epoch stats equal the committed ones",
            [s for seg in returned for s in seg]
            == [{k: v for k, v in s.items() if k != "cursors"} for s in stats],
        )
        by_epoch = {
            r["epoch"]: (r["ok"], r["failed"])
            for r in fetched.groupBy("epoch").agg(
                F.count(F.when(F.col("status") == "ok", 1)).alias("ok"),
                F.count(F.when(F.col("status") == "failed", 1)).alias("failed"),
            ).collect()
        }
        pending = {
            r["epoch"]: r["n"]
            for r in state.frontier.read(spark).groupBy("epoch").agg(F.count("*").alias("n")).collect()
        }
        tally.record(
            "epoch stats match table row counts",
            all(
                by_epoch.get(s["epoch"], (0, 0)) == (s["urls_fetched"], s["urls_failed"])
                and pending.get(s["epoch"], 0) == s["urls_pending_after"]
                for s in stats
            ),
        )

    tally.guard("crawl invariants", run)


def reports_match(spark, tally: Tally, report_dir: str, log) -> None:
    """The incrementally updated reports equal a from-scratch
    recomputation over the whole log, written here with plain
    DataFrame operations."""
    from pyspark.sql import functions as F

    from crawlspark.plans.reports import ReportStore

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    def run() -> None:
        store = ReportStore(report_dir)
        private = F.col("url").rlike(r"^https://[^/]+/private/")
        day = F.date_trunc("DAY", F.col("warc_ts")).alias("day")
        expected = {
            "deleted_pages": (log.where(private).select("warc_ts", "url"), ["warc_ts", "url"]),
            "page_count_by_day": (log.groupBy(day).agg(F.count("*").alias("value")), ["day", "value"]),
            "page_count_by_day_kind": (
                log.groupBy(day).agg(
                    F.count(F.when(~private, 1)).alias("details"),
                    F.count(F.when(private, 1)).alias("deletes"),
                ),
                ["day", "details", "deletes"],
            ),
        }
        for name, (want, cols) in expected.items():
            got = store.read(spark, name)
            tally.record(
                f"report {name} equals a recomputation over fetched",
                got is not None and rows(got, cols) == rows(want, cols),
            )

    tally.guard("reports", run)


def matches_simulator(spark, tally: Tally, inputs: str, state_dir: str, *, max_epochs: int, default_budget: int) -> None:
    """Visited set and per-epoch visit order equal the pure-Python
    reference crawler fed the same seeds, robots and budgets."""
    from crawlspark.plans.state import CrawlState
    from tests.simulator import simulate_web_crawl

    def read(name):
        return spark.read.parquet(os.path.join(inputs, f"{name}.parquet"))

    def run() -> None:
        sim = simulate_web_crawl(
            {r["url"]: {"html": bytes(r["html"])} for r in read("pages").select("url", "html").collect()},
            [(r["url"], r["priority"]) for r in read("seeds").collect()],
            robots={r["host"]: list(r["disallow_prefixes"]) for r in read("robots").collect()},
            budgets={r["host"]: r["tokens_per_epoch"] for r in read("host_budgets").collect()},
            default_budget=default_budget, max_epochs=max_epochs,
        )
        rows = (
            CrawlState(state_dir).fetched.read(spark)
            .orderBy("epoch", "priority", "discovery_ts", "url")
            .select("epoch", "url").collect()
        )
        engine: list[list[str]] = []
        for r in rows:
            while len(engine) <= r["epoch"]:
                engine.append([])
            engine[r["epoch"]].append(r["url"])
        tally.record("per-epoch visit order equals the simulator", engine == sim.epochs)

    tally.guard("simulator parity", run)


def digest(df) -> tuple[int, int, int]:
    """Order-insensitive digest: (rows, sum of 32-bit row hashes, xor of
    64-bit row hashes). Floating-point values are rounded to 9
    significant digits first, so summation order cannot change it."""
    from pyspark.sql import functions as F

    cols = [_normalised(F.col(f"`{f.name}`"), f.dataType).alias(f"c{i}") for i, f in enumerate(df.schema.fields)]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    r = df.select(h.alias("h")).agg(
        F.count("*"),
        F.coalesce(F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)),
        F.coalesce(F.bit_xor("h"), F.lit(0)),
    ).first()
    return int(r[0]), int(r[1]), int(r[2])


def _normalised(c, dtype):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.8e", c.cast("double"))
    if isinstance(dtype, T.ArrayType):
        return F.transform(c, lambda e: _normalised(e, dtype.elementType))
    if isinstance(dtype, T.MapType):
        entries = T.ArrayType(T.StructType([
            T.StructField("key", dtype.keyType), T.StructField("value", dtype.valueType),
        ]))
        return _normalised(F.array_sort(F.map_entries(c)), entries)
    if isinstance(dtype, T.StructType):
        return F.struct(*[_normalised(c[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return c


def recorded_digests() -> dict[str, list[int]]:
    with open(DIGESTS) as f:
        return json.load(f)
