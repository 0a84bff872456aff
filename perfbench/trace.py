"""Tracing from outside the package: spans, Spark job counts, event-log metrics.

Nothing here edits the package. :class:`Tracer` replaces public functions
with timing wrappers for the life of one traced run and puts them back
afterwards. Spans nest by call order (one client thread), so each span's
parent is the innermost open span, and self time is duration minus the
time covered by child spans.

Spark work is attributed to operations through job groups: the runner
sets one group per operation, counts its jobs, stages and tasks through
``statusTracker()``, and after the session stops reads executor CPU, GC,
shuffle and spill per group from the run-local event log (zstd JSON
lines, decoded with pyarrow's compressed stream).
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import pyarrow as pa

# (import path, attribute path, span name): the public functions each layer
# exposes to a user. Spans are named "<layer>.<function>".
TRACED = (
    ("clickhouse_learning_spark.session", "get_spark", "session.get_spark"),
    ("clickhouse_learning_spark.tables", "Table.read", "tables.read"),
    ("clickhouse_learning_spark.tables", "Table.append", "tables.append"),
    ("clickhouse_learning_spark.tables", "Table.stats", "tables.stats"),
    ("clickhouse_learning_spark.functions.metrics", "build_states",
     "functions.metrics.build_states"),
    ("clickhouse_learning_spark.mv.engine", "MaterializedView.merge_query",
     "mv.engine.merge_query"),
    ("clickhouse_learning_spark.mv.engine", "MaterializedView.merge_states",
     "mv.engine.merge_states"),
    ("clickhouse_learning_spark.mv.engine", "MaterializedView.materialize_batch",
     "mv.engine.materialize_batch"),
    ("clickhouse_learning_spark.mv.engine", "MaterializedView.compact",
     "mv.engine.compact"),
    ("clickhouse_learning_spark.mv.router", "MetricRouter.query", "mv.router.query"),
    ("clickhouse_learning_spark.mv.sql_rewrite", "SqlRewriter.sql",
     "mv.sql_rewrite.sql"),
    ("clickhouse_learning_spark.functions.dialect", "translate",
     "functions.dialect.translate"),
    ("clickhouse_learning_spark.functions.dictionary", "Dictionary.enrich",
     "functions.dictionary.enrich"),
    ("clickhouse_learning_spark.functions.dictionary", "Dictionary.refresh",
     "functions.dictionary.refresh"),
    ("clickhouse_learning_spark.maintenance", "Maintainer.run_once",
     "maintenance.run_once"),
)


class Tracer:
    """In-memory span recorder over wrapped package functions."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        # span name -> (before(args, kwargs) -> token,
        #               after(token, args, kwargs, result)): counts what a
        # call did (jobs, files read, MV hits) at its boundary
        self.hooks: dict[str, tuple] = {}
        # counter name -> [(op group, value)]
        self.counters: dict[str, list] = defaultdict(list)
        self.op: str | None = None

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        sid = self._start(name)
        try:
            yield
        finally:
            self._end(sid)

    def _start(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "parent": self._open[-1] if self._open else None,
                "op": self.op,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._open.append(sid)
        return sid

    def _end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._open.pop()

    # -- patching -------------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr_path, span_name in TRACED:
            owner = importlib.import_module(mod_name)
            *outer, attr = attr_path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(original, span_name))
            self._patched.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            hook = tracer.hooks.get(name)
            token = hook[0](args, kwargs) if hook else None
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if hook:
                hook[1](token, args, kwargs, out)
            return out

        return wrapper

    # -- summaries --------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> self time in seconds (duration minus children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child[s["id"]]
            for s in self.spans
            if s["end"] is not None
        }

    def dump(self, path: Path) -> None:
        own = self.self_times()
        rows = [
            {**s, "self_ms": 1000 * own.get(s["id"], 0.0)} for s in self.spans
        ]
        path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


# -- Spark job accounting -------------------------------------------------------


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under one job group, from the
    status tracker (stages skipped by shuffle reuse are not counted)."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None and sinfo.numTasks > 0 and (
                sinfo.numCompletedTasks + sinfo.numFailedTasks > 0
            ):
                stages += 1
                tasks += sinfo.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def read_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU, GC, scheduler delay, shuffle and spill,
    summed over the tasks of the group's jobs."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>.zstd
    files = sorted(
        log_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1])
    )
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    lines: list[str] = []
    for path in files:
        codec = "zstd" if path.suffix in (".zstd", ".zst") else None
        with pa.input_stream(str(path), compression=codec) as f:
            lines.extend(f.read().decode().splitlines())
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            acc = out[group]
            acc["failed_tasks"] += 1 if info.get("Failed") else 0
            run = m.get("Executor Run Time", 0)
            wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            acc["scheduler_delay_ms"] += max(
                0,
                wall
                - run
                - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            )
            acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_bytes"] += (
                sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return {g: dict(v) for g, v in out.items()}


# -- per-layer metrics ------------------------------------------------------------

# (metric, span, self time?): median per call over the measured operations
LAYER_SPANS = (
    ("session.get_spark_ms", "session.get_spark", False),
    ("tables.read_ms", "tables.read", False),
    ("tables.append_ms", "tables.append", False),
    ("tables.stats_ms", "tables.stats", False),
    ("functions.metrics.build_states_ms", "functions.metrics.build_states", False),
    ("mv.engine.merge_query_ms", "mv.engine.merge_query", False),
    ("mv.engine.merge_states_ms", "mv.engine.merge_states", False),
    ("mv.engine.materialize_batch_ms", "mv.engine.materialize_batch", False),
    ("mv.engine.compact_ms", "mv.engine.compact", False),
    ("mv.router.query_ms", "mv.router.query", True),
    ("mv.sql_rewrite.sql_ms", "mv.sql_rewrite.sql", True),
    ("functions.dialect.translate_ms", "functions.dialect.translate", False),
    ("functions.dictionary.enrich_ms", "functions.dictionary.enrich", False),
    ("functions.dictionary.refresh_ms", "functions.dictionary.refresh", False),
    ("maintenance.run_once_ms", "maintenance.run_once", False),
)
# counters averaged per recorded call
LAYER_COUNTERS = (
    "tables.read_jobs", "tables.files_read", "mv.router.mv_hit_ratio",
    "mv.sql_rewrite.rewrite_ratio.sql", "mv.sql_rewrite.rewrite_ratio.raw",
    "maintenance.partitions_compacted", "maintenance.partitions_dropped",
)
# per operation class: medians of the split, means per op of the rest
SPARK_PER_CLASS = (
    "build_ms", "exec_ms", "jobs", "stages", "tasks",
    "scheduler_delay_ms", "executor_cpu_ms", "shuffle_bytes",
)


def install_counters(tracer: Tracer, sc) -> None:
    """Counters at layer boundaries. Spark work a counter needs runs under
    its own job group, so it never adds to an operation's counts."""
    stats = tracer.counters

    def record(name, value):
        stats[name].append((tracer.op, value))

    def jobs_in_group():
        group = sc.getLocalProperty("spark.jobGroup.id")
        return len(sc.statusTracker().getJobIdsForGroup(group)) if group else 0

    def aside(fn):
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup("trace-aux", "tracing counters")
        try:
            return fn()
        finally:
            if group:
                sc.setJobGroup(group, "")

    def after_read(before, args, kwargs, df):
        record("tables.read_jobs", jobs_in_group() - before)
        record("tables.files_read", len(df.inputFiles()))

    def after_route(_, args, kwargs, df):
        router, _spark, group_by, metric_names = args[:4]
        where = kwargs.get("where", args[4] if len(args) > 4 else None)
        hit = router.routed_source(group_by, metric_names, where) != "raw"
        record("mv.router.mv_hit_ratio", float(hit))

    def after_sql(_, args, kwargs, df):
        rewriter, spark, query = args[:3]
        routed = rewriter.explain_route(spark, query).startswith("mv:")
        cls = tracer.op.rsplit(":", 1)[-1] if tracer.op else "none"
        record(f"mv.sql_rewrite.rewrite_ratio.{cls}", float(routed))

    def state_rows(args, kwargs):
        mv, spark = args[:2]
        return aside(lambda: mv.storage.read(spark).count())

    def after_compact(before, args, kwargs, _):
        record("compact_rows", (before, state_rows(args, kwargs)))

    def partition_dirs(args, kwargs=None):
        return sum(
            sum(1 for _ in Path(job.mv.storage.path).glob("day=*"))
            for job in args[0].jobs
        )

    def after_sweep(before, args, kwargs, report):
        record("maintenance.partitions_dropped", before - partition_dirs(args))
        record(
            "maintenance.partitions_compacted",
            sum(e.get("partitions_compacted", 0) for e in report.values()),
        )

    tracer.hooks.update(
        {
            "tables.read": (lambda a, k: jobs_in_group(), after_read),
            "mv.router.query": (lambda a, k: None, after_route),
            "mv.sql_rewrite.sql": (lambda a, k: None, after_sql),
            "mv.engine.compact": (state_rows, after_compact),
            "maintenance.run_once": (partition_dirs, after_sweep),
        }
    )


def layer_metrics(tracer: Tracer, ops: list[dict], counts: dict,
                  events: dict, classes: tuple[str, ...]) -> dict[str, float]:
    """Per-layer metrics over ``ops`` (the measured operations: dicts with
    ``group``, ``cls``, ``build_ms``, ``exec_ms``). ``counts`` holds the
    status-tracker counts per group, ``events`` the event-log sums.
    Layers the operations never reached read 0."""
    groups = {o["group"] for o in ops}
    own = tracer.self_times()
    out: dict[str, float] = {}
    for metric, name, self_time in LAYER_SPANS:
        xs = [
            1000 * (own[s["id"]] if self_time else s["end"] - s["start"])
            for s in tracer.spans
            if s["name"] == name and s["end"] is not None
            and (s["op"] in groups or name == "session.get_spark")
        ]
        out[metric] = statistics.median(xs) if xs else 0.0
    scoped = {k: [v for g, v in xs if g in groups] for k, xs in tracer.counters.items()}
    for name in LAYER_COUNTERS:
        out[name] = statistics.fmean(scoped[name]) if scoped.get(name) else 0.0
    before = sum(b for b, _ in scoped.get("compact_rows", []))
    after = sum(a for _, a in scoped.get("compact_rows", []))
    out["mv.engine.compaction_ratio"] = before / after if after else 1.0
    totals = defaultdict(float)
    for cls in classes:
        mine = [o for o in ops if o["cls"] == cls]
        n = max(1, len(mine))
        for f in ("build_ms", "exec_ms"):
            xs = [o[f] for o in mine]
            out[f"spark.{cls}.{f}"] = statistics.median(xs) if xs else 0.0
        for f in ("jobs", "stages", "tasks"):
            out[f"spark.{cls}.{f}"] = sum(counts.get(o["group"], {}).get(f, 0)
                                          for o in mine) / n
        ev = [events.get(o["group"], {}) for o in mine]
        for f in ("scheduler_delay_ms", "executor_cpu_ms", "shuffle_bytes"):
            out[f"spark.{cls}.{f}"] = sum(e.get(f, 0.0) for e in ev) / n
        for f in ("gc_ms", "spill_bytes", "failed_tasks"):
            totals[f] += sum(e.get(f, 0.0) for e in ev)
    out["spark.gc_ms"] = totals["gc_ms"] / max(1, len(ops))
    out["spark.spill_bytes"] = totals["spill_bytes"]
    out["spark.failed_tasks"] = totals["failed_tasks"]
    return out
