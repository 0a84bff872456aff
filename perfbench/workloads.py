"""The two workloads: ``dashboard`` (reads of prebuilt state) and ``live``
(the reference's insert loop with reads after every batch).

Both drive the package only through its public API, from one client
thread, in a closed loop. Every operation belongs to one class:

- ``rollup``  ``MetricRouter.query`` on the mainpage sketch MV
- ``funnel``  bitmap funnel over merged bitmap states
- ``sql``     pasted ClickHouse SQL (``run_clickhouse``) that routes onto an MV
- ``raw``     a ``dictGet`` query that misses every MV and reads the raw log
- ``batch``   dictionary enrich + MV append + raw-log append of one batch
- ``sweep``   one maintenance sweep

A workload yields steps ``(Op, build, sink)``: ``build()`` is driver work
until the DataFrame is returned, ``sink(df)`` runs it (collect or write).
Reads return their rows so the runner can check one answer per request
shape against an independent DuckDB computation (``perfbench.oracle``).
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.dialect import translate
from clickhouse_learning_spark.functions.dictionary import Dictionary
from clickhouse_learning_spark.maintenance import Maintainer
from clickhouse_learning_spark.mv.mainpage import mainpage_mv
from clickhouse_learning_spark.mv.router import MetricRouter
from clickhouse_learning_spark.mv.sql_rewrite import SqlRewriter, run_clickhouse
from clickhouse_learning_spark.schemas import load_table
from clickhouse_learning_spark.sources.ingest import events_as_action_log
from clickhouse_learning_spark.tables import Table
from clickhouse_learning_spark.workload import reference_star as R

from perfbench import data

READ_CLASSES = ("rollup", "funnel", "sql", "raw")
ROLLUP_METRICS = ["view_uv", "click_cnt", "value_sum", "value_median", "event_cnt"]
LIVE_FUNNEL = ("view_bm", "click_bm", "signup_bm", "purchase_bm")
# the reference's ods TTL (ods.action_001_dis.sql:21); the starting tables
# hold exactly this window, so live starts at its steady-state size
TTL_DAYS = 10
DICTS = {"dim.dict_user_dim": ("user_dim", "uid", {"gender": "", "platform": ""})}


@dataclass
class Op:
    cls: str
    shape: str
    params: dict = field(default_factory=dict)


def collect(df):
    return [tuple(r) for r in df.collect()]


def parquet_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


class Workload:
    """Shared set-up pieces and read path."""

    name = ""
    SQL_GROUPS: tuple[str, ...] = ()
    RAW_ATTRS: tuple[str, ...] = ()

    def __init__(self, spark, star: str, log: pa.Table, seed: int):
        self.spark, self.star, self.log, self.seed = spark, star, log, seed
        self.days = [
            (data.START + dt.timedelta(days=i)).date() for i in range(TTL_DAYS)
        ]
        R.build_user_dim(spark, star).createOrReplaceTempView("user_dim")

    def _dictionary(self) -> Dictionary:
        """customer -> segment, loaded by ``refresh`` (never on the clock)."""
        spark, star = self.spark, self.star
        return Dictionary(
            lambda: load_table(spark, star, "customer").select(
                F.col("c_custkey").alias("uid"),
                F.col("c_mktsegment").alias("segment"),
            ),
            key="uid",
            lifetime_s=float("inf"),
            defaults={"segment": "UNKNOWN"},
        )

    def enrich(self, events):
        return self.dictionary.enrich(events_as_action_log(events), ["segment"])

    # -- reads ----------------------------------------------------------------
    def read_op(self, rng: random.Random, cls: str, day: dt.date) -> Op:
        if cls == "rollup":
            by = rng.choice(("hour", "segment"))
            return Op(cls, f"rollup/{by}", {"by": by, "day": day})
        if cls == "funnel":
            return Op(cls, "funnel", {"day": day})
        if cls == "sql":
            by = rng.choice(self.SQL_GROUPS)
            return Op(cls, f"sql/{by}", {"by": by, "day": day})
        attr = rng.choice(self.RAW_ATTRS)
        return Op(cls, f"raw/{attr}", {"attr": attr, "day": day})

    def read_step(self, op: Op):
        def build():
            if op.cls == "rollup":
                return self.router.query(
                    self.spark, ["day", op.params["by"]], ROLLUP_METRICS,
                    where={"day": op.params["day"]},
                )
            if op.cls == "funnel":
                return self.funnel(op.params["day"])
            if op.cls == "sql":
                return run_clickhouse(
                    self.spark, self.sql_text(op), rewriter=self.rewriter
                )
            return run_clickhouse(
                self.spark, self.raw_text(op), rewriter=self.rewriter,
                dictionaries=DICTS,
            )

        return op, build, collect

    def route(self, op: Op) -> str:
        """Where SqlRewriter sends an op's SQL: "mv:<name>" or "raw:<why>"."""
        text = self.sql_text(op) if op.cls == "sql" else self.raw_text(op)
        return self.rewriter.explain_route(self.spark, translate(text, DICTS))

    def state_bytes(self) -> int:
        return sum(parquet_bytes(mv.storage.path) for mv in self.state_views)


class Dashboard(Workload):
    """Read-only over four prebuilt structures (10 days of the log)."""

    name = "dashboard"
    SQL_GROUPS = ("day, gender", "gender")
    RAW_ATTRS = ("platform", "gender")
    MIN_STEPS = len(READ_CLASSES)

    def __init__(self, spark, star: str, log: pa.Table, seed: int):
        super().__init__(spark, star, data.first_days(log, TTL_DAYS), seed)

    def setup_steps(self, base: Path):
        """Build the starting tables under ``base``: one bulk batch into the
        mainpage MV and the raw ``action_001`` log (the write path ``live``
        uses), the two-writer wide MV and the 6-bitmap funnel MV from the
        reference-star builders, then one sweep compacting all of them."""
        spark, star = self.spark, self.star
        self.dictionary = self._dictionary()
        self.mainpage = mainpage_mv(str(base / "mainpage"))
        self.raw_table = Table(str(base / "action_001"), ("day",), sort_key=("hour",))
        self.router = MetricRouter(
            raw_source=lambda s: events_as_action_log(load_table(s, star, "events"))
        )
        self.router.register(self.mainpage)
        user = spark.table("user_dim").select("uid", "gender")

        def build():
            self.dictionary.refresh()
            events = self.enrich(load_table(spark, star, "events"))
            action = R.build_action_001(spark, star).join(
                F.broadcast(user), "uid", "left"
            )
            return events, action

        def sink(frames):
            events, action = frames
            self.mainpage.append_batch(events)
            self.raw_table.append(action)
            self.wide = R.materialize_wide(spark, star, str(base / "wide"))
            self.funnel_mv = R.build_funnel_mv(spark, star, str(base / "funnel"))

        yield Op("batch", "batch", {"rows": self.log.num_rows}), build, sink
        self.state_views = [self.mainpage, self.wide, self.funnel_mv]
        wide_router = MetricRouter(raw_source=self.raw_table.read)
        wide_router.register(self.wide)
        self.rewriter = SqlRewriter(wide_router, "action_001")
        yield Op("sweep", "sweep"), lambda: None, lambda _: self.sweep()

    def sweep(self) -> dict:
        """Merge the builders' two state rows per key (one per writer) so
        every MV holds one row per key and one file per day; the mainpage
        MV and the raw log already do. ``Maintainer`` is not used: it picks
        partitions by file count, which misses this one-file layout."""
        self.wide.compact(self.spark)
        self.funnel_mv.compact(self.spark)
        return {}

    def funnel(self, day):
        return R.funnel_states_query(self.spark, self.funnel_mv).filter(
            F.col("day") == F.lit(day)
        )

    def sql_text(self, op: Op) -> str:
        return (
            f"SELECT {op.params['by']}, sum(show_cnt) AS shown_cnt, "
            "sum(click_cnt) AS click_cnt "
            f"FROM action_001 WHERE day = '{op.params['day']}' "
            f"GROUP BY {op.params['by']}"
        )

    def raw_text(self, op: Op) -> str:
        a = op.params["attr"]
        return (
            f"SELECT dictGet('dim.dict_user_dim', '{a}', toUInt64(t1.uid)) AS dim_{a}, "
            "uniqExact(t1.uid) AS uv, sum(t1.show_cnt) AS shows "
            f"FROM action_001 t1 WHERE t1.day = '{op.params['day']}' GROUP BY dim_{a}"
        )

    def steps(self, rng: random.Random, n: int):
        """``n`` reads, each class equally often, in seeded order."""
        classes = [READ_CLASSES[i % len(READ_CLASSES)] for i in range(n)]
        rng.shuffle(classes)
        for c in classes:
            yield self.read_step(self.read_op(rng, c, rng.choice(self.days)))


class Live(Workload):
    """~2000-row batches in event-time order with a seeded share of late
    rows. After each batch: the freshness rollup pinned to the batch's day,
    then one read of each other class on that day, in seeded order. Every
    ``SWEEP_EVERY`` batches: TTL (logical ``now``) and compaction."""

    name = "live"
    SQL_GROUPS = ("day, segment", "segment")
    RAW_ATTRS = ("gender", "platform")
    # rows per batch at sf0.1 (the reference's insert size, ~0.6 day of the
    # log); other scales keep the same share of a day
    BATCH_ROWS = 2000
    LATE_SHARE = 0.02
    SWEEP_EVERY = 5
    REFRESH_EVERY = 4
    MIN_STEPS = SWEEP_EVERY

    def setup_steps(self, base: Path):
        """Starting tables: the first ``TTL_DAYS`` days as one bulk batch
        into the mainpage MV and the raw log (one file per day already, so
        no sweep)."""
        spark, star = self.spark, self.star
        self.dictionary = self._dictionary()
        self.mainpage = mainpage_mv(str(base / "mainpage"))
        self.raw_table = Table(str(base / "events_log"), ("day",), sort_key=("hour",))
        self.maintainer = Maintainer()
        self.maintainer.register(self.mainpage, ttl=dt.timedelta(days=TTL_DAYS))
        self.router = MetricRouter(raw_source=self.raw_table.read)
        self.router.register(self.mainpage)
        self.rewriter = SqlRewriter(self.router, "events_log")
        self.state_views = [self.mainpage]
        rows = self.BATCH_ROWS * self.log.num_rows / data.sizes(0.1)["events"]
        self.stream = BatchStream(
            self.log, TTL_DAYS, max(1, round(rows)), self.LATE_SHARE, self.seed
        )
        self.handed = [data.first_days(self.log, TTL_DAYS)]
        self.now = self.days[-1]
        self.cutoff, self.swept = None, 0

        def build():
            self.dictionary.refresh()
            return self.enrich(load_table(spark, star, "events"))

        yield Op("batch", "batch", {"rows": self.handed[0].num_rows}), build, self.write

    def write(self, enriched) -> None:
        self.mainpage.append_batch(enriched)
        self.raw_table.append(enriched)

    def sweep(self) -> dict:
        """TTL with the logical ``now`` on the MV (through ``Maintainer``)
        and on the raw log, then partition-scoped compaction."""
        keep = dt.timedelta(days=TTL_DAYS)
        report = self.maintainer.run_once(self.spark, now=self.now)
        self.raw_table.apply_ttl(self.spark, keep, now=self.now)
        self.cutoff, self.swept = self.now - keep, len(self.handed)
        return report

    def retained(self) -> pa.Table:
        """Every row the tables should hold: rows handed over before the last
        sweep survive its TTL cutoff only if recent; later rows all stay."""
        before = pa.concat_tables(self.handed[: self.swept or len(self.handed)])
        if self.cutoff is not None:
            days = pc.cast(before["ts"], pa.date32())
            before = before.filter(pc.greater_equal(days, pa.scalar(self.cutoff)))
        return pa.concat_tables([before, *self.handed[self.swept or len(self.handed):]])

    def funnel(self, day):
        """Chain bitmapAndCardinality over merged (not finalized) states."""
        mv = self.mainpage
        merged = mv.merge_states(
            mv.storage.read(self.spark).filter(F.col("day") == F.lit(day)), ["day"]
        )
        chain, cols = None, []
        for i, s in enumerate(LIVE_FUNNEL):
            chain = F.col(s) if chain is None else F.array_intersect(chain, F.col(s))
            cols.append(F.size(chain).alias(f"stage_{i}"))
        return merged.select("day", *cols)

    def sql_text(self, op: Op) -> str:
        return (
            f"SELECT {op.params['by']}, sumIf(1, event_type = 'click') AS click_cnt, "
            "count() AS event_cnt "
            f"FROM events_log WHERE day = '{op.params['day']}' "
            f"GROUP BY {op.params['by']}"
        )

    def raw_text(self, op: Op) -> str:
        a = op.params["attr"]
        return (
            f"SELECT dictGet('dim.dict_user_dim', '{a}', toUInt64(t1.uid)) AS dim_{a}, "
            "uniqExact(t1.uid) AS uv, count() AS events "
            f"FROM events_log t1 WHERE t1.day = '{op.params['day']}' GROUP BY dim_{a}"
        )

    def steps(self, rng: random.Random, n: int):
        """``n`` batches with their reads, a dictionary refresh before every
        ``REFRESH_EVERY``-th batch and a sweep after every ``SWEEP_EVERY``-th
        and after the last (so a short warm-up also runs the sweep once)."""
        for i in range(1, n + 1):
            batch = next(self.stream)
            self.handed.append(batch)
            day = batch_day(batch)
            self.now = max(self.now, day)
            refresh = i % self.REFRESH_EVERY == 0

            def build(batch=batch, refresh=refresh):
                if refresh:
                    self.dictionary.refresh()
                # Arrow's zone-less timestamps arrive as TIMESTAMP_NTZ; the
                # tables hold session-zone TIMESTAMP
                events = self.spark.createDataFrame(batch)
                return self.enrich(events.withColumn("ts", F.col("ts").cast("timestamp")))

            yield Op("batch", "batch", {"rows": batch.num_rows}), build, self.write
            yield self.read_step(self.read_op(rng, "rollup", day))
            for cls in rng.sample(READ_CLASSES[1:], len(READ_CLASSES) - 1):
                yield self.read_step(self.read_op(rng, cls, day))
            if i % self.SWEEP_EVERY == 0 or i == n:
                yield Op("sweep", "sweep"), lambda: None, lambda _: self.sweep()


class BatchStream:
    """The log replayed after the starting window: event-time order,
    ``rows`` per batch, a seeded ``late`` share of each batch held back by
    1-3 batches. Each pass over the log shifts dates by the log's length so
    new day partitions keep arriving."""

    def __init__(self, log: pa.Table, start_day: int, rows: int, late: float,
                 seed: int):
        self.log, self.rows, self.late = log, rows, late
        self.rng = random.Random(seed)
        self.offset = data.first_days(log, start_day).num_rows
        self.passes = 0
        self.held: list[tuple[int, pa.Table]] = []
        self.n = 0

    def __next__(self) -> pa.Table:
        if self.offset >= self.log.num_rows:
            self.offset, self.passes = 0, self.passes + 1
        chunk = self.log.slice(self.offset, self.rows)
        self.offset += chunk.num_rows
        shift = self.passes * data.DAYS * data.US_PER_DAY
        ts = pc.add(chunk["ts"].cast(pa.int64()), shift).cast(pa.timestamp("us"))
        ids = pc.add(chunk["event_id"], self.passes * self.log.num_rows)
        chunk = chunk.set_column(0, "event_id", ids).set_column(1, "ts", ts)
        late = pa.array([self.rng.random() < self.late for _ in range(len(chunk))])
        if pc.any(late).as_py():
            self.held.append((self.n + self.rng.randint(1, 3), chunk.filter(late)))
        parts = [chunk.filter(pc.invert(late))]
        parts += [t for k, t in self.held if k <= self.n]
        self.held = [(k, t) for k, t in self.held if k > self.n]
        self.n += 1
        return pa.concat_tables(parts)


def batch_day(batch: pa.Table) -> dt.date:
    """The day a freshness read pins: that of the newest event in the batch."""
    return pc.max(batch["ts"]).as_py().date()


WORKLOADS = {"dashboard": Dashboard, "live": Live}
