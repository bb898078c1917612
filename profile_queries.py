#!/usr/bin/env python
"""Per-query profiler (guide §1: measure first).

For each named registry query: capture ``explain("formatted")`` to
``plans/profile/<name>_<tag>.txt``, then time the query isolated — both with
the bench's own action (``bench.time_query``, best of N) and with the noop sink
(``df.write.format("noop")``, guide §1.4 — full materialization of every
column, so plan-shape changes that ``count()`` would prune away are still
visible).  Prints one JSON line per query and a total.

Usage:
    python profile_queries.py --tag before graph_pagerank_trade dedup_...
    python profile_queries.py --tag before --all-headline
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 16g pyspark-shell")

from kafka_spark_streaming_eval_spark.plans.registry import all_queries  # noqa: E402
from kafka_spark_streaming_eval_spark.session import get_spark  # noqa: E402

PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "profile")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--all-headline", action="store_true")
    ap.add_argument("--no-explain", action="store_true")
    ap.add_argument("--noop", action="store_true", help="also time via noop sink")
    args = ap.parse_args()

    import bench

    specs = all_queries()
    names = list(args.names)
    if args.all_headline:
        names = [n for n in bench.HEADLINE if n not in names] + names
    os.makedirs(PLANS_DIR, exist_ok=True)

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark("profile_queries")
    # Warm-up (same as bench): JVM/JIT/page cache out of the measurement.
    specs["ref_minmax_anchor"].fn(spark, sf_dir).count()

    results: dict[str, dict] = {}
    for name in names:
        fn = specs[name].fn
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if not args.no_explain:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        meter = bench.StealMeter()
        rec = {"count_s": round(bench.time_query(fn, spark, sf_dir, runs=args.runs), 4)}
        if args.noop:
            best_noop = float("inf")
            for _ in range(args.runs):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best_noop = min(best_noop, time.perf_counter() - t0)
            rec["noop_s"] = round(best_noop, 4)
        rec["steal"] = meter.finish()
        results[name] = rec
        print(json.dumps({name: rec}), flush=True)
        spark.sparkContext.setJobDescription(None)

    total = round(sum(r["count_s"] for r in results.values()), 4)
    print(json.dumps({"total_count_s": total, "n": len(results), "tag": args.tag}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
