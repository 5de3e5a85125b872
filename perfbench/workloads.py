"""The benchmark's workloads: closed loop, one client, local[nproc].

Each workload runs in four phases:

1. set-up, repeated `SETUP_REPS` times, each time in a fresh Spark
   session on freshly generated input; `setup_s` is the median;
2. warm-up: a fixed set of untimed ops of every type the run times,
   sized by measurement so that the timed ops run at or near their steady
   time (the first op of a type runs 1.2-1.8x slower);
3. timed ops, whole cycles or passes, until `--seconds` have elapsed
   (at least one);
4. correctness checks, untimed (the read workload's run in warm-up).

End-to-end metrics are the same names on every workload, so that every
workload reports every metric:

- `setup_s`: median set-up time;
- `op_p50_s`: median latency of the workload's small op (an hourly
  refresh, a dashboard query); no higher percentile is reported, as
  no run has ten samples beyond one (a run times 1 refresh or ~22
  queries; the sample counts are in the report);
- `bulk_s`: median latency of its bulk op (a backfill, a full
  dashboard pass, whose time the heavy queries dominate).

Which per-layer metrics should move which end-to-end metric:

- `session.*`, `io.*`, `fixture.*`: `setup_s`, on both workloads;
- `refresh.<stage>.{s,jobs,tasks}`, `refresh.<table>.*`: `op_p50_s`
  on medallion, mostly through `jobs`;
- `backfill.<stage>.*`, `backfill.rows_per_s`: `bulk_s` on medallion;
- `reference_ops.*`: `op_p50_s` (light queries) and `bulk_s` (heavy
  ones) on analytics.

So a change that removes per-commit jobs from `tables` or `Lakehouse`
should move medallion `op_p50_s` a lot and `bulk_s` little; a faster
parse or dedup transform the opposite; neither should move analytics.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
import statistics
import time

import datagen
from spans import Tracer

SETUP_REPS = 3
_STAGES = (
    "ingest_feed",
    "bronze_to_silver",
    "build_ohlcv_1m",
    "build_ohlcv_1h",
    "build_daily_metrics",
    "build_price_latest",
)
_TABLES = (
    "bronze_trades",
    "dlq",
    "silver_trades",
    "ohlcv_1m",
    "ohlcv_1h",
    "daily_metrics",
    "price_latest",
)
_QUERY_MODULES = ("reference_ops",)
_FIXTURES = ("silver",)

# Every per-layer metric, in every traced run; a layer the workload
# bypasses reads 0.
PER_LAYER: dict[str, str] = {
    "session.get_spark_session.s": "s",
    "io.load_table.events.s": "s",
    "backfill.rows_per_s": "1/s",
    **{f"{op}.{st}.{m}": u for op in ("backfill", "refresh") for st in _STAGES
       for m, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"))},
    "backfill.failed_tasks": "count",
    "refresh.failed_tasks": "count",
    **{f"refresh.{t}.{m}": u for t in _TABLES
       for m, u in (("bytes_written", "B"), ("files_written", "count"), ("partitions_rewritten", "count"))},
    **{f"{t}.bytes_stored": "B" for t in _TABLES},
    "tables.refresh_write_amp": "ratio",
    "tables.space_amp": "ratio",
    **{f"{m}.{k}": u for m in _QUERY_MODULES
       for k, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"))},
    "queries.failed_tasks": "count",
    **{f"fixture.{f}.{k}": "s" for f in _FIXTURES for k in ("build_s", "cold_s", "warm_s")},
    "warmup.s": "s",
}
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "bulk_s": "s"}


def duck_events(data_dir: str):
    """DuckDB connection with the generated `events` as a view, the one
    table every oracle of the workloads reads."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
    return con


def median_of(dicts: list[dict], key: str) -> float:
    return statistics.median(d.get(key, 0) for d in dicts) if dicts else 0.0


class Workload:
    name = ""

    def __init__(self, run_dir: str, seed: int, seconds: float, tracer: Tracer):
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.spark = None
        self.setup_times: list[float] = []
        self.session_times: list[float] = []
        self.layer: dict[str, float] = {}
        self.report: dict = {"workload": self.name, "seed": seed}
        self.load_times: list[float] = []
        self.attempted = 0

    # -- set-up ----------------------------------------------------------
    def _session(self, rep: int) -> None:
        from crypto_lakehouse_spark.session import get_spark_session

        if self.spark is not None:
            self.spark.stop()
        with self.tr.span("session.get_spark_session", op=f"setup{rep}") as s:
            self.spark = get_spark_session(f"perfbench-{self.name}")
        self.session_times.append(s["s"])
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.sc = self.spark.sparkContext

    def setup(self) -> None:
        for rep in range(SETUP_REPS):
            with self.tr.span("setup", op=f"setup{rep}") as s:
                self._session(rep)
                self.data_dir = os.path.join(self.run_dir, f"data{rep}")
                with self.tr.span("datagen", op=f"setup{rep}"):
                    datagen.write_events(self.data_dir, self.seed, self.n_events)
                self.setup_rep(rep)
            self.setup_times.append(s["s"])
        self.layer["session.get_spark_session.s"] = statistics.median(self.session_times)
        self.report["setup_reps_s"] = self.setup_times
        self.report["events"] = self.n_events

    def load_events(self, rep: int) -> None:
        from crypto_lakehouse_spark.io import load_table

        with self.tr.span("io.load_table.events", op=f"setup{rep}") as s:
            load_table(self.spark, self.data_dir, "events")
        self.load_times.append(s["s"])

    def run(self) -> dict:
        self.setup()
        self.layer["io.load_table.events.s"] = statistics.median(self.load_times)
        self.warmup()
        self.timed()
        correct = self.check()
        metrics = {
            "setup_s": statistics.median(self.setup_times),
            "op_p50_s": statistics.median(self.op_times),
            "bulk_s": statistics.median(self.bulk_times),
        }
        self.report["op_samples"] = len(self.op_times)
        self.report["bulk_samples"] = len(self.bulk_times)
        self.report["end_to_end"] = metrics
        self.report["correct"] = correct
        return {"correct": correct, "metrics": metrics}

    def per_layer(self) -> dict[str, float]:
        return {k: float(self.layer.get(k, 0.0)) for k in PER_LAYER}


class Medallion(Workload):
    """Writes through the whole medallion pipeline.

    Why: the paper's system is feed -> bronze -> silver -> gold with a
    backfill and hourly incremental MERGEs. A backfill moves every
    feed row through every stage, so part of its time scales with rows
    (~13 s for the whole feed against ~10 s for its first two days);
    an hourly refresh moves ~70 feed trades through ~100 Spark jobs, so it
    is bound by per-commit overhead. One `pipeline.lakehouse` or
    `tables` change is therefore seen under both regimes.
    Stresses: `session`, `io` (events load and compaction),
    `sources.trade_feed`, `pipeline.lakehouse`, `tables`.
    Bypasses: `queries.*` and the session fixtures.

    Input: 40 000 events over 30 days, staged once per set-up as the
    Kafka-envelope feed (`sources.trade_feed`). A cycle backfills the
    feed minus its last `REFRESHES` hours into a fresh warehouse, then
    applies those hours one refresh each: ingest_feed ->
    bronze_to_silver(2) -> build_ohlcv minute and hour ->
    build_daily_metrics -> build_price_latest. Warm-up is one untimed
    backfill of the feed's first `WARMUP_HOURS`; after it the timed
    backfill runs at its steady time, while the first refresh of the
    process still runs ~10-20 % slower than later ones (its MERGE
    plans are new). One cycle is timed per run: at ~100 Spark jobs
    (~11 s) per refresh, a warm-up refresh or a second timed one would
    not fit the run's time budget.
    """

    name = "medallion"
    n_events = 40_000
    REFRESHES = 1
    WARMUP_HOURS = 48

    def setup_rep(self, rep: int) -> None:
        from crypto_lakehouse_spark.sources.trade_feed import trade_feed

        self.load_events(rep)
        self.feed_dir = os.path.join(self.run_dir, f"feed{rep}")
        with self.tr.span("sources.trade_feed", op=f"setup{rep}", jobs=True):
            trade_feed(self.spark, self.data_dir).write.parquet(self.feed_dir)

    def _split(self, cut: datetime.datetime):
        """(feed before `cut`, one batch per hour from `cut` on)."""
        from pyspark.sql import functions as F

        ts, hour = F.col("ingested_at"), datetime.timedelta(hours=1)
        hours = [
            self.feed.filter((ts >= F.lit(cut + k * hour)) & (ts < F.lit(cut + (k + 1) * hour)))
            for k in range(self.REFRESHES)
        ]
        return self.feed.filter(ts < F.lit(cut)), hours

    def _stages(self, lh, feed, op: str, incremental: bool, wh: str) -> dict:
        lookback = 2 if incremental else None
        gold_lookback = "2 HOURS" if incremental else None
        calls = (
            lambda: lh.ingest_feed(feed),
            lambda: lh.bronze_to_silver(lookback),
            lambda: lh.build_ohlcv("minute", lookback=gold_lookback),
            lambda: lh.build_ohlcv("hour", lookback=gold_lookback),
            lh.build_daily_metrics,
            lh.build_price_latest,
        )
        out: dict = {"stages": {}}
        with self.tr.span(f"pipeline.lakehouse.{'refresh' if incremental else 'backfill'}", op=op) as total:
            for stage, call in zip(_STAGES, calls):
                with self.tr.span(f"pipeline.lakehouse.{stage}", op=op, jobs=True, storage=wh) as s:
                    call()
                out["stages"][stage] = s
        out["s"] = total["s"]
        return out

    def _cycle(self, tag: str, backfill, hours) -> tuple[dict, list[dict], str]:
        from crypto_lakehouse_spark.pipeline.lakehouse import Lakehouse

        wh = os.path.join(self.run_dir, f"wh-{tag}")
        lh = Lakehouse(self.spark, wh)
        bf = self._stages(lh, backfill, f"{tag}.backfill", False, wh)
        refreshes = [self._stages(lh, h, f"{tag}.refresh{k}", True, wh) for k, h in enumerate(hours)]
        return bf, refreshes, wh

    def warmup(self) -> None:
        from pyspark.sql import functions as F

        self.feed = self.spark.read.parquet(self.feed_dir)
        first, last = self.feed.agg(F.min("ingested_at"), F.max("ingested_at")).first()
        # The timed cycle's refreshes take the feed's last hours, the
        # newest row included.
        self.cut = last - datetime.timedelta(hours=self.REFRESHES, microseconds=-1)
        self.report["traffic"] = self._traffic()
        # Warm-up backfills the feed's first `WARMUP_HOURS`: the JIT and
        # codegen cost of an op is per plan, not per row.
        prefix, _ = self._split(first + datetime.timedelta(hours=self.WARMUP_HOURS))
        bf, _, wh = self._cycle("warmup", prefix, [])
        shutil.rmtree(wh)
        self.report["warmup_op_s"] = {"backfill": bf["s"]}
        self.layer["warmup.s"] = bf["s"]

    def timed(self) -> None:
        backfills, refreshes = [], []
        t0 = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - t0 < self.seconds:
            if n:
                shutil.rmtree(self.wh)
            bf, refs, self.wh = self._cycle(f"timed{n}", *self._split(self.cut))
            self.attempted += 1 + len(refs)
            backfills.append(bf)
            refreshes.extend(refs)
            n += 1
        self.bulk_times = [b["s"] for b in backfills]
        self.op_times = [r["s"] for r in refreshes]
        self.report["timed_op_s"] = {"backfills": self.bulk_times, "refreshes": self.op_times}
        if self.tr.enabled:
            self._layer_metrics(backfills, refreshes)

    def _layer_metrics(self, backfills: list[dict], refreshes: list[dict]) -> None:
        from spans import tree

        for op, runs in (("backfill", backfills), ("refresh", refreshes)):
            for st in _STAGES:
                spans = [r["stages"][st] for r in runs]
                for m in ("s", "jobs", "tasks"):
                    self.layer[f"{op}.{st}.{m}"] = median_of(spans, m)
            self.layer[f"{op}.failed_tasks"] = sum(
                s.get("failed_tasks", 0) for r in runs for s in r["stages"].values()
            )
        per_refresh = []
        for r in refreshes:
            tot: dict[str, int] = {}
            for s in r["stages"].values():
                for table, d in s.get("storage", {}).items():
                    for m, v in d.items():
                        tot[f"refresh.{table}.{m}"] = tot.get(f"refresh.{table}.{m}", 0) + v
            per_refresh.append(tot)
        for t in _TABLES:
            for m in ("bytes_written", "files_written", "partitions_rewritten"):
                self.layer[f"refresh.{t}.{m}"] = median_of(per_refresh, f"refresh.{t}.{m}")
        stored = tree(self.wh)
        for t in _TABLES:
            self.layer[f"{t}.bytes_stored"] = sum(
                size for rel, (size, _) in stored.items() if rel.split(os.sep)[0] == t
            )
        pay = self.payload
        written = sum(v for r in per_refresh for k, v in r.items() if k.endswith(".bytes_written"))
        self.layer["tables.refresh_write_amp"] = written / (pay["refreshes"] * len(backfills))
        self.layer["tables.space_amp"] = sum(s for s, _ in stored.values()) / pay["total"]
        self.layer["backfill.rows_per_s"] = pay["backfill_rows"] / statistics.median(self.bulk_times)

    def check(self) -> bool:
        """Final gold vs the DuckDB oracle of `medallion_gold_ohlcv`
        over the generated events, plus table invariants."""
        from pyspark.sql import functions as F

        from crypto_lakehouse_spark import oracle
        from crypto_lakehouse_spark.functions import fmt_ts
        from crypto_lakehouse_spark.queries import lakehouse_ops  # noqa: F401  registers the oracle
        from crypto_lakehouse_spark.queries.registry import REGISTRY, Query

        g = self.spark.read.parquet(os.path.join(self.wh, "ohlcv_1m"))
        gold = g.select(
            "product_id",
            fmt_ts("window_start").alias("window_start"),
            fmt_ts("window_end").alias("window_end"),
            *(F.col(c).cast("double").alias(c) for c in ("open", "high", "low", "close", "volume")),
            "trade_count",
        )
        ref = REGISTRY["medallion_gold_ohlcv"]
        con = duck_events(self.data_dir)
        res = oracle.compare(
            Query("medallion_final_gold", lambda s, d: gold, ref.oracle), self.spark, self.data_dir, con
        )
        # Invariants, read back with an independent parquet reader.
        q = lambda sql, t: con.execute(  # noqa: E731
            sql.format(f"read_parquet('{self.wh}/{t}/**/*.parquet', hive_partitioning = true)")
        ).fetchone()
        silver_rows, products = q("SELECT count(*), count(DISTINCT product_id) FROM {}", "silver_trades")
        trades_1m, vol_1m = q("SELECT sum(trade_count), sum(volume) FROM {}", "ohlcv_1m")
        (vol_1h,) = q("SELECT sum(volume) FROM {}", "ohlcv_1h")
        pl_rows, pl_products = q("SELECT count(*), count(DISTINCT product_id) FROM {}", "price_latest")
        con.close()
        checks = {
            "ohlcv_1m_vs_oracle": res.ok,
            "trade_count_sum_eq_silver_rows": trades_1m == silver_rows,
            "volume_1h_eq_volume_1m": vol_1h == vol_1m,
            "price_latest_one_row_per_product": pl_rows == pl_products == products,
        }
        self.report["checks"] = {k: bool(v) for k, v in checks.items()}
        self.report["oracle_detail"] = res.detail
        return all(checks.values())

    def _traffic(self) -> dict:
        """Traffic properties of the staged feed, and the payload bytes
        the amplification ratios divide by."""
        import duckdb

        con = duckdb.connect()
        feed = f"read_parquet('{self.feed_dir}/*.parquet')"
        cut = self.cut.strftime("%Y-%m-%d %H:%M:%S.%f")
        row = con.execute(
            f"""
            WITH j AS (SELECT *, CASE WHEN json_valid(value) THEN value END AS v FROM {feed}),
            f AS (
              SELECT *, json_extract_string(v, '$.type') AS typ,
                     TRY_CAST(json_extract_string(v, '$.time') AS TIMESTAMP) AS tt
              FROM j)
            SELECT count(*),
                   count(*) FILTER (WHERE typ = 'heartbeat'),
                   count(*) FILTER (WHERE typ IS NULL),
                   count(*) FILTER (WHERE "offset" >= 10000000 AND "offset" < 20000000),
                   count(*) FILTER (WHERE epoch(ingested_at) - epoch(tt) > 300),
                   max(epoch(ingested_at) - epoch(tt)),
                   count(*) FILTER (WHERE typ = 'match' AND ingested_at >= TIMESTAMP '{cut}'),
                   sum(length(value)),
                   sum(length(value)) FILTER (WHERE ingested_at < TIMESTAMP '{cut}'),
                   count(*) FILTER (WHERE ingested_at < TIMESTAMP '{cut}')
            FROM f"""
        ).fetchone()
        con.close()
        n, hb, bad, dup, late, max_late, refresh_trades, pay, pay_bf, rows_bf = row
        self.payload = {
            "total": pay,
            "backfill_rows": rows_bf,
            "refreshes": pay - pay_bf,
        }
        return {
            "feed_rows": n,
            "trades_per_refresh_batch": refresh_trades / self.REFRESHES,
            "duplicate_share": dup / n,
            "dlq_share": bad / n,
            "heartbeat_share": hb / n,
            "late_share_over_300s": late / n,  # shares are of all feed rows
            "max_lateness_s": max_late,
            "note": (
                f"max lateness {max_late:.0f} s is below the 2 h lookback of "
                "bronze_to_silver/build_ohlcv, so this workload cannot see the "
                "late-trade defect of a refresh that slices silver by lookback"
            ),
        }


class Analytics(Workload):
    """Read-only trade analytics: the paper's dashboard reads.

    Why: candles (1m, 1h, fused and from-1m), price_latest, daily
    metrics and silver statistics are what the lakehouse serves. Every
    bench-enabled registry query of `reference_ops` (11) runs to a
    `noop` sink, in a seed-permuted order, over the warm `silver`
    session fixture; a pass over all of them is one dashboard refresh.
    Stresses: `session`, `io`, `queries.reference_ops`, the `silver`
    fixture. Bypasses: `pipeline.*` and `tables` entirely, so a
    pipeline or storage change should leave it unchanged.

    Input: 10 000 events. Warm-up is one pass of every query through
    `oracle.compare` against its DuckDB oracle, which is also the
    correctness check. The first `noop` pass after it still runs
    5-25 % slower than the next; an untimed sink pass would not fit
    the run's time budget, so both timed passes count.
    """

    name = "analytics"
    n_events = 10_000

    def _queries(self):
        from crypto_lakehouse_spark import queries as qmod
        from crypto_lakehouse_spark.queries.registry import REGISTRY

        qmod.load_all()
        qs = [
            (q.spark_fn.__wrapped__.__module__.rsplit(".", 1)[-1], q)
            for q in REGISTRY.values()
            if q.bench and q.spark_fn.__wrapped__.__module__.rsplit(".", 1)[-1] in _QUERY_MODULES
        ]
        qs.sort(key=lambda mq: mq[1].name)
        random.Random(self.seed).shuffle(qs)
        return qs

    def _fixtures(self, spark, op: str) -> dict[str, float]:
        """Build the session fixtures; seconds per fixture from the
        program's own fixture meter."""
        from crypto_lakehouse_spark.queries import fixture_meter, reference_ops

        before = dict(fixture_meter.builds_for(self.data_dir))
        with self.tr.span("fixture.silver", op=op, jobs=True):
            reference_ops.cached_silver(spark, self.data_dir)
        after = fixture_meter.builds_for(self.data_dir)
        return {f: after.get(f, 0.0) - before.get(f, 0.0) for f in _FIXTURES}

    def setup_rep(self, rep: int) -> None:
        self.load_events(rep)
        builds = self._fixtures(self.spark, f"setup{rep}")
        self.fixture_builds = getattr(self, "fixture_builds", []) + [builds]

    def _execute(self, mod: str, q, op: str) -> dict:
        with self.tr.span(f"queries.{mod}.{q.name}", op=op, jobs=True) as s:
            (q.bench_fn or q.spark_fn)(self.spark, self.data_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        return s

    def _pass(self, op: str) -> tuple[float, list[tuple[str, dict]]]:
        with self.tr.span("dashboard.pass", op=op) as p:
            runs = [(mod, self._execute(mod, q, op)) for mod, q in self.qs]
        return p["s"], runs

    def warmup(self) -> None:
        from crypto_lakehouse_spark import oracle

        self.qs = self._queries()
        con = duck_events(self.data_dir)
        self.diffs = {}
        with self.tr.span("oracle.pass", op="warmup") as o:
            for _, q in self.qs:
                with self.tr.span(f"oracle.compare.{q.name}", op="warmup"):
                    self.diffs[q.name] = oracle.compare(q, self.spark, self.data_dir, con)
        con.close()
        self.report["warmup_op_s"] = {"oracle_pass": o["s"]}
        self.layer["warmup.s"] = o["s"]
        for f in _FIXTURES:
            self.layer[f"fixture.{f}.build_s"] = median_of(self.fixture_builds, f)
            self.layer[f"fixture.{f}.cold_s"] = self.fixture_builds[0][f]

    def timed(self) -> None:
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.seconds:
            passes.append(self._pass(f"pass{len(passes)}"))
            self.attempted += len(self.qs)
        self.bulk_times = [p for p, _ in passes]
        self.op_times = [s["s"] for _, runs in passes for _, s in runs]
        self.report["timed_op_s"] = {"passes": self.bulk_times}
        if self.tr.enabled:
            for m in _QUERY_MODULES:
                per_pass = [
                    {k: sum(s.get(k, 0) for mod, s in runs if mod == m) for k in ("s", "jobs", "tasks")}
                    for _, runs in passes
                ]
                for k in ("s", "jobs", "tasks"):
                    self.layer[f"{m}.{k}"] = median_of(per_pass, k)
            self.layer["queries.failed_tasks"] = sum(
                s.get("failed_tasks", 0) for _, runs in passes for _, s in runs
            )
            # Warm rebuild of each fixture in a new session of the warm
            # JVM: against `cold_s` (first touch in the process), the
            # gap is first-touch cost, not build cost.
            warm = self._fixtures(self.spark.newSession(), "warm")
            for f in _FIXTURES:
                self.layer[f"fixture.{f}.warm_s"] = warm[f]

    def check(self) -> bool:
        bad = {n: d.detail for n, d in self.diffs.items() if not d.ok}
        self.report["checks"] = {"oracle_compare_passed": len(self.diffs) - len(bad), "failed": bad}
        return not bad


WORKLOADS = {w.name: w for w in (Medallion, Analytics)}
