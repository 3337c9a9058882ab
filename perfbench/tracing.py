"""Hooks of the traced run, all recorded from the benchmark's own files.

- spans: run -> pass -> key -> {build, exec}, kept in memory and written
  out as JSON when the run ends; a key span's id is the prefix of the
  Spark job groups its build and exec set, and it carries the range of
  Spark job ids the key caused, streaming micro-batch jobs included;
- cProfile around each build call: driver time by package module, py4j
  round trips and ``tables.load`` time;
- ``QueryExecution.tracker().phases()`` on the returned DataFrame:
  Catalyst analysis, optimization and planning times;
- a ``StreamingQueryListener``: per-batch ``durationMs`` and state
  operator progress;
- the uncompressed JSON event log: per-task run, CPU and GC time,
  shuffle, spill, input and output bytes, joined to keys by job id.
"""

from __future__ import annotations

import cProfile
import json
import os
import pstats
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener
from workloads import LAYERS, PACKAGE

PHASES = ("analysis", "optimization", "planning")
STREAM_PHASES = {
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
}
_MB = float(1 << 20)


def _module_of(path: str) -> str | None:
    """Layer name of a profiled file, or None outside the package/py4j/pyspark."""
    parts = path.replace(os.sep, "/").split("/")
    if PACKAGE in parts:
        rest = parts[parts.index(PACKAGE) + 1 :]
        return rest[0] if len(rest) > 1 else rest[0].removesuffix(".py")
    if "py4j" in parts:
        return "py4j"
    if "pyspark" in parts:
        return "pyspark"
    return None


class _Progress(StreamingQueryListener):
    """Keeps every streaming progress event, stamped with its trigger time."""

    def __init__(self) -> None:
        self.events: list[tuple[float, dict]] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark's API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        stamp = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        self.events.append((stamp, p))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class Tracer:
    """Per-pass trace records of one traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.profiles: dict[str, cProfile.Profile] = {}
        self.phases: dict[str, dict[str, float]] = {}
        self.windows: dict[str, tuple[float, float]] = {}
        self.listener = _Progress()
        spark.streams.addListener(self.listener)

    def span(self, sid: str, parent: str | None, name: str, start: float, end: float, **attrs) -> None:
        self.spans.append({"id": sid, "parent": parent, "name": name, "start": start, "end": end, **attrs})

    def build(self, pass_id: str, fn, *args):
        """Call ``fn(*args)`` under the pass's profiler."""
        prof = self.profiles.setdefault(pass_id, cProfile.Profile())
        prof.enable()
        try:
            return fn(*args)
        finally:
            prof.disable()

    def plan(self, pass_id: str, df) -> None:
        """Plan the returned DataFrame and add its Catalyst phase times."""
        qe = df._jdf.queryExecution()  # noqa: SLF001 - the hook under test
        qe.executedPlan()
        phases = qe.tracker().phases()
        acc = self.phases.setdefault(pass_id, dict.fromkeys(PHASES, 0.0))
        for name in PHASES:
            summary = phases.get(name)
            if summary.isDefined():
                acc[name] += summary.get().durationMs() / 1000.0

    def pass_window(self, pass_id: str, start_wall: float, end_wall: float) -> None:
        self.windows[pass_id] = (start_wall, end_wall)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    # -- per-pass metrics ---------------------------------------------------

    def profile_metrics(self, pass_id: str) -> dict[str, float]:
        out = {"driver.py4j_calls": 0.0, "driver.py4j_s": 0.0, "tables.load_s": 0.0}
        out.update({f"{layer}.driver_self_s": 0.0 for layer in LAYERS})
        out["pyspark.driver_self_s"] = 0.0
        prof = self.profiles.get(pass_id)
        if prof is None:
            return out
        for (path, _line, func), (_cc, nc, tt, ct, _callers) in pstats.Stats(prof).stats.items():
            module = _module_of(path)
            if module == "py4j" and func == "send_command" and path.endswith("clientserver.py"):
                out["driver.py4j_calls"] += nc
                out["driver.py4j_s"] += ct
            elif module == "tables" and func == "load":
                out["tables.load_s"] += ct
            if module in LAYERS or module == "pyspark":
                out[f"{module}.driver_self_s"] += tt
        return out

    def stream_metrics(self, pass_id: str) -> dict[str, float]:
        lo, hi = self.windows[pass_id]
        out = {"streaming.batches": 0.0, "streaming.state_rows": 0.0, "streaming.state_commit_s": 0.0}
        out.update({f"streaming.{k}": 0.0 for k in STREAM_PHASES})
        last_state: dict[str, float] = {}
        for stamp, p in self.listener.events:
            if not lo <= stamp <= hi:
                continue
            out["streaming.batches"] += 1
            for metric, phase in STREAM_PHASES.items():
                out[f"streaming.{metric}"] += p["durationMs"].get(phase, 0) / 1000.0
            ops = p.get("stateOperators", [])
            out["streaming.state_commit_s"] += sum(op.get("commitTimeMs", 0) for op in ops) / 1000.0
            last_state[p["runId"]] = float(sum(op.get("numRowsTotal", 0) for op in ops))
        out["streaming.state_rows"] = sum(last_state.values())
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def task_metrics(eventlog_dir: str) -> dict[int, dict[str, float]]:
    """Task metric sums per Spark job id, read from the finished event log."""
    files = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {files}")
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                g = per_job[job]
                g["task_s"] += m["Executor Run Time"] / 1000.0
                g["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                g["gc_s"] += m["JVM GC Time"] / 1000.0
                g["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
                g["spill_mb"] += m["Disk Bytes Spilled"] / _MB
                g["read_mb"] += m["Input Metrics"]["Bytes Read"] / _MB
                g["records_read"] += m["Input Metrics"]["Records Read"]
                g["write_mb"] += m["Output Metrics"]["Bytes Written"] / _MB
    return per_job

