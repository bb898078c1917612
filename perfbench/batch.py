"""Closed-loop batch workloads: one client thread calls registry queries.

A pass calls every query of the workload's mix once, in an order drawn
from the seed, and times each from the call of ``fn(spark, sf)`` to a fully
materialized result (``toPandas``: every column of every row reaches the
client, so Catalyst cannot prune any of the work away).  Results of the
cold pass and of the last timed pass are checked against the registry's
DuckDB oracle with the repo's own comparator (``tests/conftest.py``).
"""

from __future__ import annotations

import importlib.util
import os
import random
import threading
import time

import datagen
import program
from program import cpu_stall_ms, log, steal_pct, stormy, weather
from stats import flattened, geomean, median

SF = 0.01
# JVM-only scan / join / aggregate queries, then tokenizing and simhash,
# Python-worker kernels (mapInPandas, pandas UDF), and one state-store
# stream exhibit run to completion over staged input.
MIX = (
    "tpch_q1_pricing_summary",
    "tpch_q21_suppliers_kept_waiting",
    "join_star_revenue",
    "dedup_simhash",
    "mm_fake_decode_features",
    "udf_pandas_knuth_hash",
    "stream_tumbling_counts",
)
# The query cancelled mid-flight and resubmitted (recovery_s).
RECOVERY_QUERY = "tpch_q1_pricing_summary"
RECOVERY_CYCLES = 3
WARMUP_MAX = 1  # passes after the cold one before the timed window opens
MIN_TIMED = 3


def _load_comparator(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(root, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.assert_matches_oracle


class _Collected:
    """The parts of a DataFrame the comparator reads, over a result already
    collected inside the timed region."""

    def __init__(self, df, pdf) -> None:
        self.schema = df.schema
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class _Oracle:
    """A DuckDB connection whose oracle results are computed once per run."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.cache: dict[str, object] = {}

    def execute(self, sql: str):
        if sql not in self.cache:
            self.cache[sql] = self.con.execute(sql).fetchdf()
        pdf = self.cache[sql]
        return type("_R", (), {"fetchdf": lambda _self: pdf.copy()})()


class BatchRun:
    def __init__(self, seed: int, seconds: int, trace: bool, root: str):
        self.seed, self.seconds = seed, seconds
        self.trace, self.root = trace, root
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []

    # -- one query -------------------------------------------------------
    def _call(self, spec, group: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        rec = {"name": spec.name, "t0_ms": time.time() * 1000.0}
        self.attempted += 1
        try:
            sc.setJobGroup(f"{group}|build", spec.name)
            t0 = time.perf_counter()
            df = spec.fn(self.spark, self.data)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{group}|run", spec.name)
            if traced:
                df._jdf.queryExecution().executedPlan()  # analysis + optimization + planning
            t2 = time.perf_counter()
            pdf = df.toPandas()
            t3 = time.perf_counter()
            rec.update(df=df, pdf=pdf, build_s=t1 - t0, plan_s=t2 - t1, latency_s=t3 - t0)
        except Exception as exc:  # a failed operation, not a crashed run
            self.failed += 1
            self.errors.append(f"{spec.name}: {type(exc).__name__}: {str(exc)[:200]}")
            rec["latency_s"] = None
        rec["t1_ms"] = time.time() * 1000.0
        return rec

    def _check(self, recs: list[dict]) -> None:
        for rec in recs:
            if rec.get("pdf") is None:
                continue
            spec = self.specs[rec["name"]]
            try:
                self.compare(_Collected(rec["df"], rec["pdf"]), self.oracle, spec.oracle, spec.name)
            except AssertionError as exc:
                self.failed += 1
                self.errors.append(f"{spec.name}: oracle mismatch: {str(exc)[:200]}")
            rec.pop("df"), rec.pop("pdf")

    def _pass(self, index: int, traced: bool) -> dict:
        order = list(MIX)
        random.Random(self.seed * 1000 + index).shuffle(order)
        if self.tracer is not None:
            self.tracer.active = traced
        meter = weather()
        t0 = time.perf_counter()
        recs = [self._call(self.specs[n], f"p{index}|{n}", traced) for n in order]
        p = {
            "index": index,
            "traced": traced,
            "pass_s": time.perf_counter() - t0,
            "recs": recs,
            "weather": meter.finish(),
            "t0_p": t0,
            "t1_p": time.perf_counter(),
        }
        self.passes.append(p)
        return p

    # -- recovery: cancel an in-flight query, resubmit it ------------------
    def _recover(self, cycle: int) -> dict:
        spec = self.specs[RECOVERY_QUERY]
        sc = self.spark.sparkContext
        group = f"recovery{cycle}|{spec.name}"
        outcome: dict = {}

        def victim() -> None:
            sc.setJobGroup(group, spec.name, interruptOnCancel=True)
            try:
                spec.fn(self.spark, self.data).toPandas()
                outcome["finished"] = True
            except Exception:
                outcome["cancelled"] = True

        th = threading.Thread(target=victim)
        th.start()
        tracker = sc.statusTracker()
        while th.is_alive() and not tracker.getJobIdsForGroup(group):
            time.sleep(0.005)
        t_kill = time.perf_counter()
        sc.cancelJobGroup(group)
        th.join()
        # The job fails at once, but its killed tasks wind down on their
        # own; recovery includes waiting for them, so the resubmitted query
        # never shares the cores with them.
        deadline = time.perf_counter() + 10.0
        while tracker.getActiveStageIds() and time.perf_counter() < deadline:
            time.sleep(0.005)
        t_dead = time.perf_counter()
        rec = self._call(spec, f"recovery{cycle}|{spec.name}|again", False)
        self._check([rec])
        if rec["latency_s"] is None:
            return {"recovery_s": None}
        t_done = t_dead + (rec["t1_ms"] - rec["t0_ms"]) / 1000.0
        return {
            "recovery_s": t_done - t_kill,
            "restart_ms": 1000.0 * (t_dead - t_kill),
            "first_result_ms": 1000.0 * (t_done - t_dead),
            "cancelled": outcome.get("cancelled", False),
        }

    # -- the run -----------------------------------------------------------
    def run(self) -> tuple[dict, dict, dict]:
        work = program.work_dir(self.root)
        try:
            return self._run(work)
        finally:
            program.remove_work(work)

    def _run(self, work: str):
        program.configure_env(work, event_log=self.trace)
        self.data = datagen.write(SF, self.seed, os.path.join(work, "data"))
        self.compare = _load_comparator(self.root)

        t_start = time.perf_counter()
        from kafka_spark_streaming_eval_spark.plans import registry

        self.specs = registry.all_queries()
        t_registry = time.perf_counter()
        from kafka_spark_streaming_eval_spark import catalog, session

        self.tracer = None
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.wrap(catalog, "table", "catalog.table")
        program.redirect_scratch(work)
        t_session0 = time.perf_counter()
        self.spark = session.get_spark("perfbench", cpus=program.CPUS)
        t_session = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.oracle = _Oracle(self.data, catalog.TABLES)

        cold = self._pass(0, traced=False)
        setup_s = time.perf_counter() - t_start
        self._check(cold["recs"])

        index = 1
        while index <= WARMUP_MAX:
            self._pass(index, traced=False)
            index += 1
            if flattened([q["pass_s"] for q in self.passes[1:]]):
                break
        warm_passes = index - 1
        timed: list[dict] = []
        t_window = time.perf_counter()
        while True:
            traced = self.trace and len(timed) % 2 == 1
            timed.append(self._pass(index, traced))
            index += 1
            enough = len(timed) >= (2 * MIN_TIMED if self.trace else MIN_TIMED)
            if enough and time.perf_counter() - t_window >= self.seconds:
                break
            if not enough and time.perf_counter() - t_window >= 4 * self.seconds:
                break  # a pathologically slow host: report what was measured
        self._check(timed[-1]["recs"])
        for p in timed[:-1]:
            for rec in p["recs"]:
                rec.pop("df", None), rec.pop("pdf", None)

        recoveries = [self._recover(c) for c in range(RECOVERY_CYCLES)]
        heap_mb = program.heap_retained_mb(self.spark)
        program.stop(self.spark)

        plain = [p for p in timed if not p["traced"]]
        latencies = [r["latency_s"] for p in plain for r in p["recs"] if r["latency_s"] is not None]
        query_ms = {}
        for n in MIX:
            lat = [r["latency_s"] for p in plain for r in p["recs"] if r["name"] == n]
            if lat and None not in lat:
                query_ms[n] = 1000.0 * median(lat)
        rec_s = [r["recovery_s"] for r in recoveries if r["recovery_s"] is not None]
        end_to_end = {
            "setup_s": setup_s,
            "pass_s": median([p["pass_s"] for p in plain]),
            "latency_ms": geomean(query_ms.values()) if len(query_ms) == len(MIX) else float("nan"),
            "recovery_s": median(rec_s) if rec_s else float("nan"),
            "heap_retained_mb": heap_mb,
        }
        details = {
            "workload": "batch",
            "seed": self.seed,
            "sf": SF,
            "pass_s": [round(p["pass_s"], 3) for p in self.passes],
            "warmup_passes": warm_passes,
            "warmup_flattened": flattened([q["pass_s"] for q in self.passes[1 : warm_passes + 1]]),
            "flat_at_window_open": flattened([q["pass_s"] for q in self.passes[1 : warm_passes + 2]]),
            "timed_passes": len(timed),
            "latency_samples": len(latencies),
            "query_ms": {n: round(v) for n, v in query_ms.items()},
            "steal_pct": [steal_pct(p["weather"]) for p in timed],
            "cpu_stall_ms": [cpu_stall_ms(p["weather"]) for p in timed],
            "stormy": any(stormy(p["weather"]) for p in timed),
            "recovery": recoveries,
            "errors": self.errors[:10],
        }
        layers = {}
        if self.trace:
            layers = self._layers(work, timed, recoveries, t_registry - t_start, t_session - t_session0)
        return end_to_end, layers, details

    def _layers(self, work, timed, recoveries, registry_s, session_s) -> dict:
        from tracing import EventLog, exec_metrics, iso_ms

        log_ = EventLog(os.path.join(work, "eventlog"))
        traced = [p for p in timed if p["traced"]]
        plain = [p for p in timed if not p["traced"]]
        per_pass: list[dict] = []
        for p in traced:
            recs = p["recs"]
            jobs = log_.jobs_where(t0_ms=recs[0]["t0_ms"], t1_ms=recs[-1]["t1_ms"])
            build_jobs = [
                j
                for r in recs
                for j in log_.jobs_where(lambda g, n=r["name"]: g.endswith(f"|{n}|build"))
                if j["group"].startswith(f"p{p['index']}|")
            ]
            m = exec_metrics(log_.totals(jobs))
            m.update(
                {
                    "operators.build_ms": 1000.0 * sum(r.get("build_s", 0.0) for r in recs),
                    "operators.eager_jobs": float(len(build_jobs)),
                    "catalog.table_ms": self.tracer.total_ms("catalog.table", p["t0_p"], p["t1_p"]),
                    "catalog.table_calls": float(
                        self.tracer.count("catalog.table", p["t0_p"], p["t1_p"])
                    ),
                    "plan.optimize_ms": 1000.0 * sum(r.get("plan_s", 0.0) for r in recs),
                    "stream.batches": float(
                        sum(
                            1
                            for pr in log_.progress
                            if pr.get("timestamp")
                            and recs[0]["t0_ms"] <= iso_ms(pr["timestamp"]) <= recs[-1]["t1_ms"]
                        )
                    ),
                    "host.steal_pct": steal_pct(p["weather"]),
                    "host.cpu_stall_ms": cpu_stall_ms(p["weather"]),
                }
            )
            per_pass.append(m)
        layers = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
        ok = [r for r in recoveries if r["recovery_s"] is not None]
        layers.update(
            {
                "session.start_s": session_s,
                "registry.import_s": registry_s,
                "recovery.restart_ms": median([r["restart_ms"] for r in ok]) if ok else 0.0,
                "recovery.first_batch_ms": median([r["first_result_ms"] for r in ok]) if ok else 0.0,
                "trace.overhead_pct": 100.0
                * (median([p["pass_s"] for p in traced]) / median([p["pass_s"] for p in plain]) - 1.0),
            }
        )
        return layers


def run(seed: int, seconds: int, trace: bool, root: str):
    r = BatchRun(seed, seconds, trace, root)
    e2e, layers, details = r.run()
    log(f"batch: {details}")
    return r.failed == 0, r.attempted, r.failed, e2e, layers, details
