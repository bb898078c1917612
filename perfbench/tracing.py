"""Layer tracing from outside the program.

``Tracer.wrap`` replaces a layer function, in its home module and in every
program module that imported it by name, with a wrapper that records a span
(layer, start, end).  Spans stay in memory.  Executor-side
numbers come from Spark's own event log, read once after the session stops:
every query runs under its own job group, so each job, stage and task maps
back to the query and pass that caused it.
"""

from __future__ import annotations

import collections
import datetime as dt
import functools
import glob
import json
import os
import sys
import time

PACKAGE = "kafka_spark_streaming_eval_spark"

# Physical operators that hand rows to Python workers.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)
PYTHON_TIME_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self.active = True

    def wrap(self, module, attr: str, layer: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.spans.append((layer, t0, time.perf_counter()))

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if (name == module.__name__ or name.startswith(PACKAGE)) and getattr(
                mod, attr, None
            ) is original:
                setattr(mod, attr, traced)

    def total_ms(self, layer: str, t0: float, t1: float) -> float:
        """Summed duration (ms) of ``layer`` spans that started in [t0, t1]."""
        return 1000.0 * sum(e - s for n, s, e in self.spans if n == layer and t0 <= s <= t1)

    def count(self, layer: str, t0: float, t1: float) -> int:
        return sum(1 for n, s, _ in self.spans if n == layer and t0 <= s <= t1)


def iso_ms(stamp: str) -> float:
    """Epoch ms of a streaming progress timestamp (ISO 8601, UTC)."""
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


def _plan_python_row_ids(plan: dict, out: set) -> None:
    if any(plan.get("nodeName", "").startswith(n) for n in PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m.get("accumulatorId"))
    for child in plan.get("children", []):
        _plan_python_row_ids(child, out)


class EventLog:
    """Jobs, per-stage task totals and streaming progress from one
    uncompressed Spark event log directory."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[dict] = []  # {group, submit_ms, stages}
        self.stages: dict[int, collections.Counter] = collections.defaultdict(
            collections.Counter
        )
        self.progress: list[dict] = []
        python_rows: set = set()
        task_accums: list[tuple[int, int, float]] = []  # (stage, accum id, update)
        files = sorted(
            f
            for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
        )
        for path in files:
            with open(path) as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue  # a torn last line of a live log
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        self.jobs.append(
                            {
                                "group": props.get("spark.jobGroup.id") or "",
                                "submit_ms": ev.get("Submission Time", 0),
                                "stages": ev.get("Stage IDs", []),
                            }
                        )
                    elif kind == "SparkListenerTaskEnd":
                        self._task(ev, task_accums)
                    elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"
                    ):
                        _plan_python_row_ids(ev.get("sparkPlanInfo") or {}, python_rows)
                    elif kind.endswith("QueryProgressEvent"):
                        self.progress.append(ev.get("progress") or {})
        for stage, acc_id, update in task_accums:
            if acc_id in python_rows:
                self.stages[stage]["python_rows"] += update

    def _task(self, ev: dict, task_accums: list) -> None:
        stage = ev.get("Stage ID")
        tm = ev.get("Task Metrics") or {}
        c = self.stages[stage]
        c["tasks"] += 1
        c["run_ms"] += tm.get("Executor Run Time", 0)
        c["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        c["gc_ms"] += tm.get("JVM GC Time", 0)
        c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name, update = acc.get("Name"), acc.get("Update")
            if not isinstance(update, (int, float)):
                try:
                    update = float(update)
                except (TypeError, ValueError):
                    continue
            if name in PYTHON_TIME_METRICS:
                c["python_ms"] += update
            elif name == "time to commit changes":
                c["state_commit_ms"] += update
            elif name == "number of total state rows":
                c["state_rows"] += update
            elif name == "number of output rows":
                task_accums.append((stage, acc.get("ID"), update))

    def totals(self, jobs: list[dict]) -> dict:
        """Summed stage counters over ``jobs`` (each stage counted once)."""
        out: collections.Counter = collections.Counter()
        seen: set = set()
        for job in jobs:
            for s in job["stages"]:
                if s in seen or s not in self.stages:
                    continue
                seen.add(s)
                out["stages"] += 1
                out.update(self.stages[s])
                out["state_rows_max"] = max(out["state_rows_max"], self.stages[s]["state_rows"])
        out["jobs"] = len(jobs)
        return out

    def jobs_where(self, group_pred=None, t0_ms: float | None = None, t1_ms: float | None = None):
        return [
            j
            for j in self.jobs
            if (group_pred is None or group_pred(j["group"]))
            and (t0_ms is None or j["submit_ms"] >= t0_ms)
            and (t1_ms is None or j["submit_ms"] <= t1_ms)
        ]


def exec_metrics(totals: dict, per: float = 1.0) -> dict[str, float]:
    """Per-layer execution metrics from ``EventLog.totals``, divided by ``per``."""
    mb = 1024.0 * 1024.0
    return {
        "exec.jobs": totals.get("jobs", 0) / per,
        "exec.stages": totals.get("stages", 0) / per,
        "exec.tasks": totals.get("tasks", 0) / per,
        "exec.run_ms": totals.get("run_ms", 0) / per,
        "exec.cpu_ms": totals.get("cpu_ms", 0) / per,
        "exec.gc_ms": totals.get("gc_ms", 0) / per,
        "shuffle.write_mb": totals.get("shuffle_write_bytes", 0) / mb / per,
        "shuffle.read_mb": totals.get("shuffle_read_bytes", 0) / mb / per,
        "spill.mb": totals.get("spill_bytes", 0) / mb / per,
        "python.query_ms": totals.get("python_ms", 0) / per,
        "python.rows": totals.get("python_rows", 0) / per,
        "state.commit_ms": totals.get("state_commit_ms", 0) / per,
        "state.rows_total": totals.get("state_rows_max", 0),
    }
