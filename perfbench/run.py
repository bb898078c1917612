"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Prints diagnostics to stderr, a details
line and then, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.getcwd()

WORKLOADS = ("batch", "stream")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_ms": "ms",
    "recovery_s": "s",
    "heap_retained_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "operators.build_ms": "ms",
    "operators.eager_jobs": "count",
    "catalog.table_ms": "ms",
    "catalog.table_calls": "count",
    "plan.optimize_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "spill.mb": "MB",
    "python.query_ms": "ms",
    "python.rows": "count",
    "metrics_job.kernel_eps": "1/s",
    "metrics_job.sink_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.addbatch_ms": "ms",
    "stream.walcommit_ms": "ms",
    "stream.commitoffsets_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.latestoffset_ms": "ms",
    "stream.batches": "count",
    "stream.backlog_rows": "count",
    "stream.event_p99_ms": "ms",
    "stream.program_p50_ms": "ms",
    "stream.drain_eps": "1/s",
    "recovery.restart_ms": "ms",
    "recovery.first_batch_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "host.steal_pct": "%",
    "host.cpu_stall_ms": "ms",
    "trace.overhead_pct": "%",
}


def preflight() -> str | None:
    """Why this directory cannot be benchmarked, or None."""
    for rel in ("kafka_spark_streaming_eval_spark/plans/registry.py", "bench.py", "tests/conftest.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from the root of a checkout"
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path[1:1] = [ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from stats import metric, result_line

    if args.workload == "stream":
        import stream

        ok, attempted, failed, e2e, layers, details = stream.run(
            args.seed, args.seconds, bool(args.trace), ROOT
        )
    else:
        import batch

        ok, attempted, failed, e2e, layers, details = batch.run(
            args.seed, args.seconds, bool(args.trace), ROOT
        )
    if args.trace:
        metrics = {k: metric(layers.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: metric(e2e[k], u) for k, u in END_TO_END.items()}
    for name, m in metrics.items():
        if m["value"] != m["value"] or m["value"] in (float("inf"), float("-inf")):
            details.setdefault("errors", []).append(f"{name} was not measured")
            m["value"], ok = 0.0, False
    print(json.dumps({"details": details}, default=str))
    print(json.dumps(result_line(ok, attempted, failed, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
