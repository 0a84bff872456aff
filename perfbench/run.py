"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|live --seed N --seconds S --trace 0|1

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A detail file
with every timing (median, tail percentile and sample count), the host
context and the correctness checks goes to ``.perfbench_results/``.

A run is a fixed schedule, never a fixed duration: set-up (session start
plus building the starting tables), an untimed warm-up of the measured
mix, then a measured phase whose operation count is ``--seconds`` times a
per-workload rate. Everything in the schedule (request order, parameters,
late rows, refresh and sweep points, the logical clock) derives from
``--seed`` alone.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path

import pyarrow as pa

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
try:
    from clickhouse_learning_spark import session
    from perfbench import data, trace, workloads
    from perfbench.oracle import Oracle, compare
except ImportError as e:  # run outside a checkout of the package
    sys.exit(f"perfbench: cannot import the package under test: {e}")

READ_CLASSES = workloads.READ_CLASSES
OP_CLASSES = (*READ_CLASSES, "batch", "sweep")
# operations per requested second (dashboard: reads; live: batches, each
# with four reads), sized on a 4-vCPU host so that a run with --seconds 20
# takes 50-70 s, set-up included; the warm-up first runs WARM_SHARE of that
# count, which leaves the measured phase past the steep part of the JIT
# warm-up
RATE = {"dashboard": 2.0, "live": 0.25}
WARM_SHARE = {"dashboard": 0.3, "live": 0.4}
# stop measuring early (and say so) rather than overrun the 180 s limit
DEADLINE_S = 150
# Spark driver heap: the default (16g) exceeds a 15 GB host, and a 3g heap
# left the JVM's resident size swinging between 1.2 and 2.0 GB run to run
# with G1's heap-growth decisions (1g: 1.0-1.2 GB, same latencies)
DRIVER_MEM = "1g"
RESULTS = ROOT / ".perfbench_results"

UNITS = {"setup_s": "s", "state_bytes_per_krow": "B", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="data scale; 0.1 mirrors the sf0.1 fixtures")
    return p.parse_args(argv)


# -- host context ---------------------------------------------------------------


def cpu_times() -> dict[str, float]:
    """Host-wide busy and steal seconds so far (all CPUs, /proc/stat)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    hz = os.sysconf("SC_CLK_TCK")
    return {"steal_s": int(parts[8]) / hz, "busy_s": sum(map(int, parts[1:4])) / hz}


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class CpuClock:
    """CPU time the system under test spends: every JVM thread except the
    JIT compilers (a warm-up cost, not the program's), plus this Python
    process. Unlike wall time it leaves out the time our threads wait for a
    CPU, while the host lends our vCPUs to other guests (steal) or other
    threads run; the speed of the cores themselves still shows (see
    ``HostProbe``). Per-thread run times come from
    ``/proc/<pid>/task/<tid>/schedstat``."""

    JIT = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int):
        self.task_dir = f"/proc/{jvm_pid}/task"
        self.names: dict[str, str] = {}

    def snapshot(self) -> tuple[dict[str, int], float]:
        threads = {}
        for tid in os.listdir(self.task_dir):
            try:
                if tid not in self.names:
                    with open(f"{self.task_dir}/{tid}/comm") as f:
                        self.names[tid] = f.read().strip()
                with open(f"{self.task_dir}/{tid}/schedstat") as f:
                    threads[tid] = int(f.read().split()[0])
            except OSError:  # the thread ended meanwhile
                continue
        return threads, time.process_time()

    def since(self, before) -> tuple[float, float]:
        """(work, JIT) CPU milliseconds since ``before``; a thread that
        ended in between loses its share."""
        (t0, py0), (t1, py1) = before, self.snapshot()
        work, jit = 1000 * (py1 - py0), 0.0
        for tid, ns in t1.items():
            d = (ns - t0.get(tid, 0)) / 1e6
            if self.names[tid].startswith(self.JIT):
                jit += d
            else:
                work += d
        return work, jit


class HostProbe:
    """A fixed piece of JVM work that touches neither the package nor
    Spark: sorting a copy of the same 20 000 strings. Its CPU time tracks
    how fast the host's cores run at the moment, which on a shared 4-vCPU
    host drifted by up to a quarter within half an hour (clock speed, busy
    sibling cores) and moves every CPU time with it. Operations' CPU times
    are divided by the probe's median over the measured phase, where it
    runs before every operation, and multiplied by ``REFERENCE_MS``:
    milliseconds on a core where the probe costs that much."""

    REFERENCE_MS = 20.0
    WORDS = 20_000

    def __init__(self, spark, cpu: CpuClock):
        jvm = spark._jvm
        rng = random.Random(0)  # the same work in every run
        text = ",".join(f"{rng.getrandbits(48):x}" for _ in range(self.WORDS))
        self.jvm, self.cpu = jvm, cpu
        self.words = jvm.java.util.Collections.list(
            jvm.java.util.StringTokenizer(text, ",")
        )
        for _ in range(40):  # past the JIT warm-up of the sort
            self.run()

    def run(self) -> float:
        c0 = self.cpu.snapshot()
        copy = self.jvm.java.util.ArrayList(self.words)
        self.jvm.java.util.Collections.sort(copy)
        return self.cpu.since(c0)[0]


def summary(xs: list[float]) -> dict:
    """Median and the highest percentile with at least 10 samples beyond it."""
    xs = sorted(xs)
    out = {"n": len(xs), "median": statistics.median(xs) if xs else None}
    for p in (99, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = xs[min(len(xs) - 1, int(len(xs) * p / 100))]
            break
    return out


# -- operations -----------------------------------------------------------------


class Runner:
    """Times operations, counts failures and keeps the first answer of every
    read shape for the correctness checks."""

    def __init__(self, spark, wl, tracer: trace.Tracer | None):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.cpu = CpuClock(spark.sparkContext._gateway.proc.pid)
        self.probe = HostProbe(spark, self.cpu)
        self.samples: list[dict] = []
        self.failures: list[dict] = []
        self.first: dict[str, dict] = {}
        self.counts: dict[str, dict] = {}
        self.phase = "setup"
        self.seq = 0

    def execute(self, step) -> None:
        op, build, sink = step
        self.seq += 1
        group = f"{self.phase}:{self.seq}:{op.cls}"
        sc = self.spark.sparkContext
        if self.tracer:
            sc.setJobGroup(group, op.shape)
            self.tracer.op = group
        span = self.tracer.span(f"op.{op.cls}") if self.tracer else nullcontext()
        # not in set-up, whose time is a metric of its own
        probe_ms = None if self.phase == "setup" else self.probe.run()
        c0 = self.cpu.snapshot()
        t0 = time.perf_counter()
        try:
            with span:
                df = build()
                t1 = time.perf_counter()
                out = sink(df)
                t2 = time.perf_counter()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failures.append(
                {"phase": self.phase, "op": op.shape, "error": repr(e),
                 "trace": traceback.format_exc(limit=4)}
            )
            return
        finally:
            if self.tracer:
                self.tracer.op = None
        cpu_ms, jit_ms = self.cpu.since(c0)
        self.samples.append(
            {"phase": self.phase, "cls": op.cls, "shape": op.shape, "group": group,
             "build_ms": 1000 * (t1 - t0), "exec_ms": 1000 * (t2 - t1),
             "ms": 1000 * (t2 - t0), "cpu_ms": cpu_ms, "jit_ms": jit_ms,
             "probe_ms": probe_ms, "rows": op.params.get("rows", 0)}
        )
        if self.tracer:
            self.counts[group] = trace.group_counts(sc, group)
        if (self.phase == "measure" and op.cls in READ_CLASSES
                and op.shape not in self.first):
            self.first[op.shape] = {
                "op": op, "rows": out, "upto": len(getattr(self.wl, "handed", ())),
            }

    def measured(self) -> list[dict]:
        """The measured operations. ``dashboard`` writes only while setting
        up, so its batch and sweep come from the set-up."""
        write_phase = "setup" if self.wl.name == "dashboard" else "measure"
        return [
            s for s in self.samples
            if s["phase"] == ("measure" if s["cls"] in READ_CLASSES else write_phase)
        ]


# -- the run --------------------------------------------------------------------


def prepare(work: Path) -> None:
    """Keep every file Spark, the JVMs and Python write under ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # also read by the spark-submit launcher JVM; no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def spark_conf(work: Path, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if traced:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            }
        )
    return conf


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def run(args) -> dict:
    t_start = time.perf_counter()
    work = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare(work)
    ctx0, load0 = cpu_times(), os.getloadavg()

    t = time.perf_counter()
    log = data.events_table(args.seed, args.sf)
    star = data.write_star(
        work / "star", args.seed, args.sf, data.first_days(log, workloads.TTL_DAYS)
    )
    customer = data.customer_table(args.seed, args.sf)
    data_s = time.perf_counter() - t

    tracer = trace.Tracer() if args.trace else None
    if tracer:
        tracer.install()
    t = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench", cpus=os.cpu_count() or 1,
        extra_conf=spark_conf(work, bool(tracer)),
    )
    spark.range(1).collect()
    session_s = time.perf_counter() - t
    if tracer:
        trace.install_counters(tracer, spark.sparkContext)

    wl = workloads.WORKLOADS[args.workload](spark, star, log, args.seed)
    runner = Runner(spark, wl, tracer)
    t = time.perf_counter()
    for step in wl.setup_steps(work / "tables"):
        runner.execute(step)
    build_s = time.perf_counter() - t

    t = time.perf_counter()
    # bench.py's host thermometer (one run here, best-of-3 there)
    spark.range(2**28).selectExpr("sum(id)").collect()
    calib_s = time.perf_counter() - t

    # never fewer steps than it takes to measure every operation class
    n = max(wl.MIN_STEPS, round(args.seconds * RATE[args.workload]))
    rng = random.Random(args.seed)
    runner.phase = "warm"
    t = time.perf_counter()
    for step in wl.steps(rng, max(1, round(n * WARM_SHARE[args.workload]))):
        runner.execute(step)
    warm_s = time.perf_counter() - t

    runner.phase = "measure"
    t = time.perf_counter()
    attempted, truncated = 0, False
    for step in wl.steps(rng, n):
        if time.perf_counter() - t_start > DEADLINE_S:
            truncated = True
            break
        attempted += 1
        runner.execute(step)
    measure_s = time.perf_counter() - t

    # memory high-water marks before the checks, which load DuckDB here
    jvm_mb = hwm_mb(spark.sparkContext._gateway.proc.pid)
    py_mb = hwm_mb("self")
    state_bytes = wl.state_bytes()
    if tracer:
        spark.sparkContext.setJobGroup("checks", "correctness checks")
    t = time.perf_counter()
    checks, raw_rows = check_answers(runner, wl, customer)
    check_s = time.perf_counter() - t
    ctx1, load1 = cpu_times(), os.getloadavg()
    stop(spark)

    # a class without a measured sample (every attempt failed, or the
    # deadline cut the schedule) leaves its metrics undefined: the run
    # fails, after writing what it saw
    missing = [c for c in OP_CLASSES if all(o["cls"] != c for o in runner.measured())]
    e2e = {} if missing else end_to_end(
        runner, session_s + build_s, state_bytes, raw_rows, jvm_mb + py_mb
    )
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf,
        "end_to_end": e2e,
        "timings": timings(runner),
        "context": {
            "data_s": data_s, "session_s": session_s, "build_s": build_s,
            "calibration_probe_s": calib_s, "warmup_s": warm_s,
            "measure_s": measure_s, "check_s": check_s,
            "steal_s": ctx1["steal_s"] - ctx0["steal_s"],
            "busy_s": ctx1["busy_s"] - ctx0["busy_s"],
            "loadavg_start": load0, "loadavg_end": load1,
            "jvm_hwm_mb": jvm_mb, "python_hwm_mb": py_mb,
            "ops_planned": n, "truncated": truncated,
            "wall_s": time.perf_counter() - t_start,
        },
        "checks": checks,
        "failures": runner.failures,
        "missing_classes": missing,
        "samples": runner.samples,
    }
    metrics = e2e
    if tracer and not missing:
        tracer.uninstall()
        metrics = detail["per_layer"] = trace.layer_metrics(
            tracer, runner.measured(), runner.counts,
            trace.read_event_log(work / "eventlog"), OP_CLASSES,
        )
        detail["overhead"] = tracing_overhead(args, e2e)
    RESULTS.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (RESULTS / f"{name}.json").write_text(json.dumps(detail, indent=1, default=str))
    if tracer:
        tracer.dump(RESULTS / f"{name}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    if missing:
        sys.exit(f"perfbench: no measured {', '.join(missing)} operation; "
                 f"see {RESULTS / name}.json")
    correct = bool(checks) and all(c["ok"] for c in checks.values())
    return {
        "correct": correct and not runner.failures,
        "attempted": attempted,
        "failed": sum(f["phase"] == "measure" for f in runner.failures),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }


# -- correctness ------------------------------------------------------------------


def check_answers(runner, wl, customer) -> tuple[dict, int]:
    """One check per request shape seen in the measured phase, against
    DuckDB over the rows handed over up to that request; for ``sql`` and
    ``raw`` also the route SqlRewriter takes. ``live`` adds a final check
    that the MV's merged answers equal a one-shot aggregation of every
    retained row. Returns the checks and the raw-log row count."""
    live = wl.name == "live"
    checks: dict[str, dict] = {}
    oracles: dict[int, Oracle] = {}
    for shape, first in sorted(runner.first.items()):
        op, got, upto = first["op"], first["rows"], first["upto"]
        if upto not in oracles:
            events = pa.concat_tables(wl.handed[:upto]) if live else wl.log
            oracles[upto] = Oracle(events, customer)
        o, p = oracles[upto], op.params
        try:
            if op.cls == "rollup":
                err = compare(got, o.rollup(p["by"], p["day"]), 2, approx=(2,))
            elif op.cls == "funnel":
                want = o.funnel_live(p["day"]) if live else o.funnel_dashboard(p["day"])
                err = compare(got, want, 1)
            elif op.cls == "sql":
                fn = o.sql_live if live else o.sql_dashboard
                err = compare(got, fn(p["by"], p["day"]), p["by"].count(",") + 1)
            else:
                fn = o.raw_live if live else o.raw_dashboard
                err = compare(got, fn(p["attr"], p["day"]), 1)
            if err is None and op.cls in ("sql", "raw"):
                route = wl.route(op)
                if route.startswith("mv:") != (op.cls == "sql"):
                    err = f"route {route}"
        except Exception as e:  # a check that cannot run fails, never passes
            err = f"check raised {e!r}"
        checks[shape] = {"ok": err is None, "error": err, "day": str(p["day"])}
    for o in oracles.values():
        o.close()
    if not live:
        return checks, wl.log.num_rows
    retained = wl.retained()
    o = Oracle(retained, customer)
    got = [
        tuple(r) for r in wl.router.query(
            wl.spark, ["day", "segment"], workloads.ROLLUP_METRICS
        ).collect()
    ]
    err = compare(got, o.rollup("segment"), 2, approx=(2,))
    o.close()
    n_raw = wl.raw_table.read(wl.spark).count()
    if err is None and n_raw != retained.num_rows:
        err = f"raw log holds {n_raw} rows, {retained.num_rows} retained"
    checks["final/merged_vs_oneshot"] = {"ok": err is None, "error": err}
    return checks, retained.num_rows


# -- metrics ------------------------------------------------------------------------


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "B"
    if "ratio" in name:
        return "ratio"
    return "count"


def end_to_end(runner, setup_s, state_bytes, raw_rows, rss_mb) -> dict:
    """Read costs are CPU times (``CpuClock``), which steal and waiting for
    a CPU leave alone, scaled to a reference core by the ``HostProbe`` runs
    of the measured phase. ``read_mix_cpu_ms`` sums the median of each read
    class, the cost of one request of every class: per class a run has too
    few samples for a steady median. Write costs are not here: every
    workload reports every metric, and ``dashboard`` writes only once, in
    set-up, where one cold batch and one sweep spread by a fifth to a third
    run to run. The per-class medians, write costs,
    unscaled CPU times, wall-clock latencies and tails stay in the detail
    file."""
    probe = statistics.median(
        s["probe_ms"] for s in runner.samples if s["phase"] == "measure"
    )
    scale = HostProbe.REFERENCE_MS / probe
    ops = runner.measured()
    return {
        "setup_s": setup_s,
        "read_mix_cpu_ms": scale * sum(
            statistics.median(o["cpu_ms"] for o in ops if o["cls"] == c)
            for c in READ_CLASSES
        ),
        "state_bytes_per_krow": state_bytes / (raw_rows / 1000),
        "peak_rss_mb": rss_mb,
    }


def timings(runner) -> dict:
    by: dict[str, list[float]] = defaultdict(list)
    for s in runner.samples:
        for f in ("ms", "build_ms", "exec_ms", "cpu_ms", "jit_ms", "probe_ms"):
            if s[f] is not None:
                by[f"{s['phase']}/{s['cls']}/{f}"].append(s[f])
    return {k: summary(v) for k, v in sorted(by.items())}


def tracing_overhead(args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end values, when an untraced result for
    the same workload and seed is in the results directory."""
    path = RESULTS / f"{args.workload}-seed{args.seed}-trace0.json"
    if not path.exists():
        return None
    base = json.loads(path.read_text())["end_to_end"]
    return {k: traced[k] - base[k] for k in traced if k in base}


def main(argv=None) -> int:
    print(json.dumps(run(parse_args(argv))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
