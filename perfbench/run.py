#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, starts a local Spark session on every core and runs the
workload's key mix once cold. It then checks every key's output against
its DuckDB oracle, warms up, and runs timed passes for ``--seconds``.
Each key execution is ``QUERIES[key](spark, dir)`` followed by a
``noop`` write, as ``bench.py`` does. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it show the environment, every metric with
its unit and each pass's time.

Everything the run writes goes under ``.perfbench/`` at the repository
root and is removed when the run ends, except the spans of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")

sys.path[:0] = [HERE, ROOT]

from workloads import LAYERS, PACKAGE, WORKLOADS, Workload  # noqa: E402

PREPARE_CALLS = 25
SMOKE_SIZE = 0.001
HEAP_SAMPLES = 3
#: pause after each GC, so Spark's ContextCleaner can drop the broadcast
#: and shuffle state whose driver references that GC released
CLEANER_PAUSE_S = 0.5


# -- host calibration ----------------------------------------------------


def ref_loop() -> float:
    """Wall time of a fixed pure-Python loop: the host's speed right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def process_age() -> float:
    """Seconds since this process started, from /proc/self/stat."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


# -- environment ---------------------------------------------------------


def pin_env(work: str, cpus: int, eventlog_dir: str | None) -> dict[str, str]:
    """Set, before the JVM starts, everything the session inherits.

    The repo root goes on PYTHONPATH so JVM-spawned Python workers can
    import the package; every temporary, local, warehouse and staging
    directory points inside ``work``.
    """
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "warehouse", "scratch")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *path])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = tempfile.tempdir = dirs["tmp"]
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']} "
        f"-Dderby.system.home={dirs['tmp']}",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    return dirs


# -- one key execution ----------------------------------------------------


@dataclass
class KeyRun:
    key: str
    layer: str
    build_s: float
    exec_s: float
    #: Spark job ids [build, exec) and [exec, end) of this execution
    jobs: tuple[int, int, int]
    error: str | None = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


class Mix:
    """Runs a workload's keys against one session, one key at a time."""

    def __init__(self, spark, queries: dict, keys: tuple[str, ...], data_dir: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.keys = keys
        self.fns = {k: queries[k] for k in keys}
        self.data_dir = data_dir
        self.dag = self.sc._jsc.sc().dagScheduler()  # noqa: SLF001

    def layer(self, key: str) -> str:
        return self.fns[key].__module__.split(".")[1]

    def run_key(self, key: str, group: str, tracer=None, pass_id: str = "") -> KeyRun:
        fn = self.fns[key]
        build_s = exec_s = 0.0
        # Job ids rise by one per job, so the ids handed out between these
        # reads are every job the key caused, on any thread: streaming
        # micro-batches run under their query's own job group.
        j0 = self.dag.numTotalJobs()
        j1 = None
        self.sc.setJobGroup(f"{group}/build", key)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = fn(self.spark, self.data_dir)
            else:
                df = tracer.build(pass_id, fn, self.spark, self.data_dir)
            t1 = time.perf_counter()
            build_s = t1 - t0
            if tracer is not None:
                tracer.plan(pass_id, df)
            self.sc.setJobGroup(f"{group}/exec", key)
            j1 = self.dag.numTotalJobs()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            exec_s = t3 - t2
        except Exception as exc:  # a failed operation: record it, keep going
            failed_at = time.perf_counter()
            if build_s == 0.0:
                build_s = failed_at - t0
            if tracer is not None:
                tracer.span(f"{group}/build", group, "build", t0, t0 + build_s)
            j2 = self.dag.numTotalJobs()
            jobs = (j0, j2 if j1 is None else j1, j2)
            return KeyRun(key, self.layer(key), build_s, exec_s, jobs, f"{type(exc).__name__}: {exc}")
        j2 = self.dag.numTotalJobs()
        if tracer is not None:
            tracer.span(f"{group}/build", group, "build", t0, t1, jobs=[j0, j1])
            tracer.span(f"{group}/exec", group, "exec", t2, t3, jobs=[j1, j2])
            tracer.span(group, pass_id, key, t0, t3, jobs=[j0, j2])
        return KeyRun(key, self.layer(key), build_s, exec_s, (j0, j1, j2))

    def run_pass(self, pass_id: str, tracer=None) -> list[KeyRun]:
        t0, w0 = time.perf_counter(), time.time()
        runs = [self.run_key(k, f"{pass_id}:{k}", tracer, pass_id) for k in self.keys]
        if tracer is not None:
            tracer.span(pass_id, "run", "pass", t0, time.perf_counter())
            tracer.pass_window(pass_id, w0, time.time())
        return runs

    def job_counts(self, runs: list[KeyRun]) -> dict[str, int]:
        """Jobs, stages that ran and tasks of one pass's key executions."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        status = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for r in runs:
            for job in range(r.jobs[0], r.jobs[2]):
                jobs += 1
                info = status.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    stage = status.getStageInfo(sid)
                    if stage is not None and stage.numCompletedTasks > 0:
                        stages += 1
                        tasks += stage.numCompletedTasks
        return {"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks}


# -- statistics -------------------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(latencies)
    if n < 11:
        return None
    ordered = sorted(latencies)
    return ordered[n - 11], 100.0 * (n - 10) / n, n


def per_pass_layers(runs: list[KeyRun]) -> dict[str, float]:
    out = {f"{layer}.{part}": 0.0 for layer in LAYERS for part in ("build_s", "exec_s")}
    for r in runs:
        if r.layer in LAYERS:
            out[f"{r.layer}.build_s"] += r.build_s
            out[f"{r.layer}.exec_s"] += r.exec_s
    return out


def medians(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


def heap_mb(spark) -> float:
    """JVM heap in use after a full GC, median of a few samples."""
    runtime = spark._jvm.java.lang.Runtime.getRuntime()  # noqa: SLF001
    samples = []
    for _ in range(HEAP_SAMPLES):
        spark._jvm.java.lang.System.gc()  # noqa: SLF001
        time.sleep(CLEANER_PAUSE_S)
        spark._jvm.java.lang.System.gc()  # noqa: SLF001
        samples.append((runtime.totalMemory() - runtime.freeMemory()) / float(1 << 20))
    return statistics.median(samples)


# -- oracle check -----------------------------------------------------------


def oracle_check(spark, engine, mix: Mix, data_dir: str) -> tuple[dict[str, str], dict[str, int]]:
    """Compare every key's output with its DuckDB oracle over the same files.

    Returns ({key: failure} for keys that mismatched or raised,
    {key: output rows}).
    """
    import duckdb

    from ls_hadoop_3_0_spark.tables import TABLES
    from tests.compare import assert_equivalent
    from tests.conftest import parquet_source

    failures: dict[str, str] = {}
    rows: dict[str, int] = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet_source(data_dir, t)}')")
        mix.sc.setJobGroup("oracle", "oracle check")
        for key in mix.keys:
            try:
                got = mix.fns[key](spark, data_dir).toPandas()
                rows[key] = len(got)
                if key not in engine.ORACLES:
                    raise KeyError(f"{key} has no oracle")
                assert_equivalent(got, con.execute(engine.ORACLES[key]).fetchdf(), key)
            except Exception as exc:  # AssertionError included: a mismatch
                failures[key] = f"{type(exc).__name__}: {str(exc)[:300]}"
    finally:
        con.close()
    return failures, rows


# -- the run ------------------------------------------------------------------


def run(
    wl: Workload, seed: int, seconds: float, traced: bool, smoke: bool, work: str
) -> tuple[dict, list[str]]:
    lines: list[str] = []
    steal0, total0 = cpu_jiffies()
    ref_start = ref_loop()
    g0 = time.perf_counter()
    size = SMOKE_SIZE if smoke else wl.size
    data_dir = os.path.join(work, "data")
    # A child process generates the data, so this process imports nothing
    # of it: setup_s runs from process start, less calibration and data
    # generation.
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed), "--size", str(size)]
    subprocess.run([*cmd, "--out", data_dir], check=True)
    excluded_s = ref_start + time.perf_counter() - g0
    cpus = len(os.sched_getaffinity(0))
    eventlog_dir = os.path.join(work, "eventlog") if traced else None
    dirs = pin_env(work, cpus, eventlog_dir)

    # setup_s: interpreter start, package import, session start and the
    # cold pass.
    t0 = time.perf_counter()
    import ls_hadoop_3_0_spark as engine
    from ls_hadoop_3_0_spark.session import get_spark, prepare
    from ls_hadoop_3_0_spark.sources import io as sources_io

    # The package's scratch root is a fixed absolute path; point it at
    # this run's directory so the sink keys write nowhere else.
    sources_io.SCRATCH_ROOT = dirs["scratch"]
    spark = get_spark("perfbench")
    start_s = process_age() - excluded_s
    tracer = None
    try:
        if traced:
            from tracing import Tracer

            tracer = Tracer(spark)
        mix = Mix(spark, engine.QUERIES, wl.keys, data_dir)
        c0 = time.perf_counter()
        mix.run_pass("cold")
        cold_s = time.perf_counter() - c0
        setup_s = process_age() - excluded_s

        prepare_s = []
        for _ in range(PREPARE_CALLS):
            p0 = time.perf_counter()
            prepare(spark)
            prepare_s.append(time.perf_counter() - p0)

        # The oracle check collects every key once more: outside all timed
        # intervals, and the first warm-up pass.
        o0 = time.perf_counter()
        oracle_failures, rows_out = oracle_check(spark, engine, mix, data_dir)
        o1 = time.perf_counter()
        warmup_passes = 0 if smoke else wl.warmup_passes
        warm = [sum(r.latency_s for r in mix.run_pass(f"w{i}")) for i in range(warmup_passes)]

        # Timed passes until --seconds have passed. A traced run
        # alternates plain and traced passes, so its overhead is measured
        # in one process.
        passes: list[tuple[str, list[KeyRun], bool]] = []
        counts: list[dict[str, int]] = []
        t_start = time.perf_counter()
        min_passes = 1 if smoke and not traced else 2
        while len(passes) < min_passes or (not smoke and time.perf_counter() - t_start < seconds):
            i = len(passes)
            on = traced and i % 2 == 1
            pid = f"t{i}"
            passes.append((pid, mix.run_pass(pid, tracer if on else None), on))
            counts.append(mix.job_counts(passes[-1][1]))
        t_end = time.perf_counter()
        if tracer is not None:
            tracer.span("run", None, "run", t0, t_end)
        heap = heap_mb(spark)
        lines.append(
            f"timeline: calibrate {ref_start:.2f} s, generate {excluded_s - ref_start:.2f} s, setup {setup_s:.2f} s, oracle check {o1 - o0:.2f} s, "
            f"warm-up {sum(warm):.2f} s, timed {t_end - t_start:.2f} s"
        )
        ref_end = ref_loop()
        steal1, total1 = cpu_jiffies()
        env = {
            "workload": wl.name,
            "seed": seed,
            "size": size,
            "cores": cpus,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark": spark.version,
            "python": sys.version.split()[0],
            "keys": list(wl.keys),
        }
        if tracer is not None:
            tracer.close()
    finally:
        gateway = spark.sparkContext._gateway  # noqa: SLF001
        spark.stop()
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    # -- accounting
    plain = [(pid, runs) for pid, runs, on in passes if not on]
    timed_runs = [r for _, runs, _ in passes for r in runs]
    attempted = len(timed_runs)
    failed = sum(1 for r in timed_runs if r.error or r.key in oracle_failures)
    for r in timed_runs:
        if r.error:
            lines.append(f"FAIL {r.key}: {r.error}")
    for key, why in oracle_failures.items():
        lines.append(f"ORACLE {key}: {why}")

    ok = [r for _, runs in plain for r in runs if not r.error]
    per_key = {k: [r.latency_s for r in ok if r.key == k] for k in wl.keys}
    key_medians = [statistics.median(v) for v in per_key.values() if v]
    pass_totals = [sum(r.latency_s for r in runs) for _, runs in plain]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        # The mix's time from each key's median: a burst of host contention
        # that slows one key in one pass moves one sample, not a pass.
        "pass_s": (sum(key_medians), "s"),
        "query_p50_s": (statistics.median(key_medians), "s"),
        "heap_mb": (heap, "MB"),
    }
    steal_frac = (steal1 - steal0) / max(1, total1 - total0)
    layer = {
        "session.start_s": (start_s, "s"),
        "setup.cold_pass_s": (cold_s, "s"),
        "session.prepare_s": (statistics.median(prepare_s), "s"),
        **{k: (v, "s/pass") for k, v in medians([per_pass_layers(runs) for _, runs in plain]).items()},
        **{k: (v, "count/pass") for k, v in medians(counts).items()},
        "host.steal_frac": (steal_frac, "ratio"),
        "host.ref_s": ((ref_start + ref_end) / 2, "s"),
    }
    lines.append("env " + json.dumps(env))
    lines.append(f"passes cold={cold_s:.3f} warmup={[round(w, 3) for w in warm]} "
                 f"timed={[round(sum(r.latency_s for r in runs), 3) for _, runs, _ in passes]}")
    lines.append(f"host ref_s start={ref_start:.4f} end={ref_end:.4f}")
    lines.append("jobs/stages/tasks per pass: " + json.dumps(counts))
    for k, v in sorted(per_key.items()):
        if v:
            lines.append(f"key {k} median_s={statistics.median(v):.4f} n={len(v)} samples={[round(x, 3) for x in v]}")
    if wl.tail:
        t = tail([r.latency_s for r in ok])
        if t is not None:
            lines.append(f"query_tail_s {t[0]:.6f} s (p{t[1]:.1f} of {t[2]} executions, 10 beyond it)")

    if traced:
        layer.update(traced_metrics(tracer, passes, rows_out, eventlog_dir, cpus, pass_totals))
        tracer.write_spans(os.path.join(WORK_ROOT, "spans", f"{wl.name}-seed{seed}.json"))
        shown = layer
    else:
        shown = end_to_end
    for name, (value, unit) in {**end_to_end, **layer}.items():
        lines.append(f"{name} {value:.6g} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    return result, lines


def traced_metrics(
    tracer, passes, rows_out, eventlog_dir, cpus, plain_totals
) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced passes, each the median over passes."""
    from tracing import PHASES, task_metrics

    per_job = task_metrics(eventlog_dir)
    traced = [(pid, runs) for pid, runs, on in passes if on]
    rows_per_pass = float(sum(rows_out.values()))
    per_pass = []
    for pid, runs in traced:
        m: dict[str, float] = {}
        phases = tracer.phases.get(pid) or dict.fromkeys(PHASES, 0.0)
        m.update({f"catalyst.{k}_s": v for k, v in phases.items()})
        m.update(tracer.profile_metrics(pid))
        m.update(tracer.stream_metrics(pid))
        sums: dict[str, float] = {}
        exec_task_s = 0.0
        for r in runs:
            for job in range(r.jobs[0], r.jobs[2]):
                for k, v in per_job.get(job, {}).items():
                    sums[k] = sums.get(k, 0.0) + v
                if job >= r.jobs[1]:
                    exec_task_s += per_job.get(job, {}).get("task_s", 0.0)
        exec_wall = sum(r.exec_s for r in runs)
        for k in ("task_s", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
            m[f"spark.{k}"] = sums.get(k, 0.0)
        m["spark.core_busy_frac"] = exec_task_s / (cpus * exec_wall) if exec_wall else 0.0
        m["sources.read_mb"] = sums.get("read_mb", 0.0)
        m["sources.write_mb"] = sums.get("write_mb", 0.0)
        m["sources.rows_read_per_row_out"] = sums.get("records_read", 0.0) / max(1.0, rows_per_pass)
        per_pass.append(m)
    units = {
        "driver.py4j_calls": "count/pass",
        "streaming.batches": "count/pass",
        "streaming.state_rows": "rows",
        "spark.core_busy_frac": "ratio",
        "sources.rows_read_per_row_out": "ratio",
    }
    out: dict[str, tuple[float, str]] = {}
    for k, v in medians(per_pass).items():
        out[k] = (v, units.get(k, "MB/pass" if k.endswith("_mb") else "s/pass"))
    traced_totals = [sum(r.latency_s for r in runs) for _, runs in traced]
    overhead = statistics.median(traced_totals) / statistics.median(plain_totals) - 1.0
    out["trace.overhead_frac"] = (overhead, "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke",
        action="store_true",
        help="self-test: sf0.001 inputs, no warm-up, the fewest timed passes",
    )
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, f"{wl.name}-{args.seed}-{os.getpid()}")
    try:
        result, lines = run(wl, args.seed, args.seconds, bool(args.trace), args.smoke, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
