"""The reference pipeline as a stream workload.

``parse_events`` -> the program's fused ``batch_metrics`` sink in
``foreachBatch`` (``run_metrics_stream``: checkpoint WAL, back-to-back
triggers, so no trigger clock phase adds to latency), fed three ways:

1. a fixed staged backlog of wire events, drained once cold;
2. the rate source at a fixed open-loop rate through ``to_wire``.  Every
   event's latency runs from its due time (its rate-source timestamp) to
   the moment its batch result is emitted (the sink returned);
3. the same live query, killed and restarted from its checkpoint five times;
4. the staged backlog again, drained closed loop three times, timed.
"""

from __future__ import annotations

import os
import time

import numpy as np

import program
from program import cpu_stall_ms, log, steal_pct, stormy, weather
from stats import event_latencies, growth, median

# A third of the ~50k events/s the drains sustain on 4 cores: headroom for
# the steal bursts of a shared host.
RATE_EPS = 15_000
BACKLOG_EVENTS = 80_000
BACKLOG_FILES = 2
TIMED_DRAINS = 3
RESTARTS = 5
STEADY_BATCHES = 2
START_TIMEOUT_S = 60.0
GATE_TIMEOUT_S = 20.0


class Emitter:
    """foreachBatch sink: the program's ``MetricsCollector``, stamped with
    the instant each batch result is emitted."""

    def __init__(self, collector) -> None:
        self.collector = collector
        self.batches: list[dict] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        before = len(self.collector.rows)
        self.collector(batch_df, batch_id)
        emit_ms = time.time() * 1000.0
        row = self.collector.rows[-1] if len(self.collector.rows) > before else None
        self.batches.append(
            {
                "id": batch_id,
                "events": row.batch_events if row is not None else 0,
                "program_p50_ms": row.p50_latency_ms if row is not None else None,
                "emit_ms": emit_ms,
                "emit_p": time.perf_counter(),
                "sink_ms": 1000.0 * (time.perf_counter() - t0),
            }
        )

    def events(self) -> int:
        return sum(b["events"] for b in self.batches)


def _wait(pred, timeout: float, poll: float = 0.005) -> bool:
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        if pred():
            return True
        time.sleep(poll)
    return False


def _wait_commit(query, seen: int) -> None:
    """Wait until the query reports a committed batch beyond the first
    ``seen`` progress entries."""
    _wait(
        lambda: any(p.numInputRows > 0 for p in query.recentProgress[seen:]),
        START_TIMEOUT_S,
        poll=0.01,
    )


def _source_t0_ms(path: str) -> float:
    """The rate source's start instant, which it records in the checkpoint
    (``v1`` then epoch ms); event ``v`` is due ``1000 v / rate`` ms later."""
    with open(path) as fh:
        return float(fh.read().split()[-1])


def _offsets(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        src = p.sources[0]
        out.append(
            {
                "id": p.batchId,
                "start": int(src.startOffset) if src.startOffset not in (None, "null", "None") else 0,
                "end": int(src.endOffset),
                "rows": p.numInputRows,
                "durations": dict(p.durationMs),
                "timestamp": p.timestamp,
            }
        )
    return out


def offsets_gap_free(batches: list[dict]) -> str | None:
    """None when the batches cover their offsets with no gap and no
    duplicate; a replayed batch must repeat its id and its offsets.
    Zero-width entries cover nothing: they are the empty first batch and
    the idle-trigger progress reports, which carry the next batch's id."""
    by_id: dict[int, tuple[int, int]] = {}
    for b in batches:
        if b["start"] == b["end"]:
            continue
        seen = by_id.setdefault(b["id"], (b["start"], b["end"]))
        if seen != (b["start"], b["end"]):
            return f"batch {b['id']} replayed over other offsets {seen} vs {(b['start'], b['end'])}"
    ids = sorted(by_id)
    if ids != list(range(ids[0], ids[-1] + 1)):
        return f"batch ids not contiguous: {ids}"
    for a, b in zip(ids, ids[1:]):
        if by_id[a][1] != by_id[b][0]:
            return f"offset gap/overlap between batch {a} {by_id[a]} and {b} {by_id[b]}"
    return None


class StreamRun:
    def __init__(self, seed: int, seconds: int, trace: bool, root: str):
        self.seed, self.seconds, self.trace, self.root = seed, seconds, trace, root
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def run(self):
        work = program.work_dir(self.root)
        try:
            return self._run(work)
        finally:
            program.remove_work(work)

    def _start_live(self, ckpt: str):
        from kafka_spark_streaming_eval_spark.streaming import generator, metrics_job
        from pyspark.sql import functions as F

        events = generator.synth_events_stream(self.spark, RATE_EPS)
        wire = generator.to_wire(events, created_ts=F.unix_millis("ts"))
        emitter = Emitter(metrics_job.MetricsCollector())
        query, _ = metrics_job.run_metrics_stream(
            metrics_job.parse_events(wire), ckpt, trigger_sec=0, collector=emitter
        )
        return query, emitter

    def _drain(self, path: str, index: int) -> dict:
        from kafka_spark_streaming_eval_spark.streaming import metrics_job

        emitter = Emitter(metrics_job.MetricsCollector())
        ckpt = os.path.join(self.work, f"drain{index}")
        source = (
            self.spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        self.attempted += 1
        meter = weather()
        t0 = time.perf_counter()
        query, _ = metrics_job.run_metrics_stream(
            metrics_job.parse_events(source), ckpt, trigger_sec=0, collector=emitter
        )
        done = _wait(lambda: emitter.events() >= BACKLOG_EVENTS, START_TIMEOUT_S)
        t1 = emitter.batches[-1]["emit_p"] if emitter.batches else time.perf_counter()
        query.stop()
        query.awaitTermination()
        if not done or emitter.events() != BACKLOG_EVENTS:
            self._fail(f"drain {index}: {emitter.events()} events of {BACKLOG_EVENTS}")
        return {
            "drain_s": t1 - t0,
            "first_emit_p": emitter.batches[0]["emit_p"] if emitter.batches else t1,
            "weather": meter.finish(),
        }

    def _run(self, work: str):
        self.work = work
        program.configure_env(work, event_log=self.trace)

        t_start = time.perf_counter()
        from kafka_spark_streaming_eval_spark import session
        from kafka_spark_streaming_eval_spark.streaming import generator, metrics_job

        t_import = time.perf_counter()
        tracer = None
        if self.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.wrap(metrics_job, "batch_metrics", "metrics_job.batch_metrics")
            tracer.wrap(metrics_job, "parse_events", "metrics_job.parse_events")
        program.redirect_scratch(work)
        t_session0 = time.perf_counter()
        self.spark = session.get_spark("perfbench", cpus=program.CPUS)
        t_session = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")

        # -- stage the backlog, drain it cold --------------------------------
        from pyspark.sql import functions as F

        backlog_dir = os.path.join(work, "backlog")
        offset = (self.seed % 1000) * 10_000_000
        staged = self.spark.range(offset, offset + BACKLOG_EVENTS).select(
            *generator.event_columns(F.col("id"), RATE_EPS)
        )
        generator.to_wire(staged).repartition(BACKLOG_FILES).write.parquet(backlog_dir)
        cold = self._drain(backlog_dir, 0)
        setup_s = cold["first_emit_p"] - t_start

        # -- live phase at a fixed rate ---------------------------------
        ckpt = os.path.join(work, "live")
        query, emitter = self._start_live(ckpt)
        if not _wait(lambda: emitter.batches, START_TIMEOUT_S):
            raise RuntimeError("the live query committed no batch")
        source_t0 = os.path.join(ckpt, "sources", "0", "0")

        def steady() -> bool:
            """The start-up backlog is gone: each of the last batches was
            emitted a stable, sub-second time after the last second of
            input it covers became due."""
            if len(emitter.batches) <= STEADY_BATCHES or not os.path.exists(source_t0):
                return False
            t0_ms = _source_t0_ms(source_t0)
            ends = {b["id"]: b["end"] for b in _offsets(query)}
            lags = [
                b["emit_ms"] - t0_ms - 1000.0 * ends[b["id"]]
                for b in emitter.batches[-STEADY_BATCHES - 1 :]
                if b["id"] in ends and b["events"] > 0
            ]
            return (
                len(lags) == STEADY_BATCHES + 1
                and max(lags) < 1000.0
                and max(lags) - min(lags) < 300.0
            )

        t_gate = time.perf_counter()
        gate_engaged = _wait(steady, GATE_TIMEOUT_S, poll=0.05)
        gate_s = time.perf_counter() - t_gate
        first_measured = len(emitter.batches)
        meter = weather()
        time.sleep(self.seconds)
        measured_ids = {b["id"] for b in emitter.batches[first_measured:]}
        live_weather = meter.finish()

        # -- kill and restart from the checkpoint -----------------------
        # Each kill lands just after a batch commits, so every restart
        # resumes the same distance behind the source.
        queries, emitters, recoveries = [query], [emitter], []
        _wait_commit(query, len(query.recentProgress))
        for _ in range(RESTARTS):
            self.attempted += 1
            t_kill = time.perf_counter()
            queries[-1].stop()
            queries[-1].awaitTermination()
            query, emitter = self._start_live(ckpt)
            t_started = time.perf_counter()
            queries.append(query)
            emitters.append(emitter)
            if not _wait(lambda: any(b["events"] > 0 for b in emitter.batches), START_TIMEOUT_S):
                self._fail("restarted query emitted no batch")
                continue
            first = next(b for b in emitter.batches if b["events"] > 0)
            recoveries.append(
                {
                    "recovery_s": first["emit_p"] - t_kill,
                    "restart_ms": 1000.0 * (t_started - t_kill),
                    "first_batch_ms": 1000.0 * (first["emit_p"] - t_started),
                }
            )
            _wait_commit(query, 0)
        queries[-1].stop()
        queries[-1].awaitTermination()

        progress = [b for q in queries for b in _offsets(q)]
        emitted = [b for e in emitters for b in e.batches]
        self.attempted += len(emitted)
        err = offsets_gap_free(progress)
        if err:
            self._fail(f"kill/restart: {err}")
        rows = {b["id"]: b["rows"] for b in progress}
        for b in emitted:
            if b["id"] in rows and b["events"] != rows[b["id"]]:
                self._fail(f"batch {b['id']}: sink saw {b['events']} of {rows[b['id']]} rows")

        # Event latency over the measured window: the rate source stamps
        # event v of a batch covering seconds [s, e) at T0 + 1000 v / rate.
        t0_ms = _source_t0_ms(source_t0)
        live = {b["id"]: b for b in _offsets(queries[0])}
        lat, backlog, program_p50, sink = [], [], [], []
        for b in emitters[0].batches:
            if b["id"] not in measured_ids or b["id"] not in live or b["events"] == 0:
                continue
            off = live[b["id"]]
            lat.append(
                event_latencies(b["emit_ms"], t0_ms + 1000.0 * off["start"], off["rows"], RATE_EPS)
            )
            backlog.append(RATE_EPS * ((b["emit_ms"] - t0_ms) / 1000.0 - off["end"]))
            program_p50.append(b["program_p50_ms"])
            sink.append(b["sink_ms"])
        if len(lat) < 3:
            self._fail(f"only {len(lat)} measured live batches")
        lat_all = np.concatenate(lat) if lat else np.array([float("nan")])
        if growth(backlog) * len(backlog) > RATE_EPS / 2:
            self._fail(f"backlog grows through the window: {[round(x) for x in backlog]}")

        # -- timed drains, now that every code path has run once ----------
        drains: list[dict] = []
        for i in range(2 * TIMED_DRAINS if self.trace else TIMED_DRAINS):
            if tracer is not None:
                tracer.active = i % 2 == 1
            d = self._drain(backlog_dir, i + 1)
            d["traced"] = tracer is not None and tracer.active
            drains.append(d)
        if tracer is not None:
            tracer.active = True

        kernel_eps = self._kernel_eps(backlog_dir) if self.trace else 0.0
        heap_mb = program.heap_retained_mb(self.spark)
        program.stop(self.spark)

        plain = [d for d in drains if not d["traced"]]
        end_to_end = {
            "setup_s": setup_s,
            "pass_s": median([d["drain_s"] for d in plain]),
            "latency_ms": float(np.percentile(lat_all, 50)),
            "recovery_s": median([r["recovery_s"] for r in recoveries])
            if recoveries
            else float("nan"),
            "heap_retained_mb": heap_mb,
        }
        weathers = [live_weather] + [d["weather"] for d in drains]
        details = {
            "workload": "stream",
            "seed": self.seed,
            "rate_eps": RATE_EPS,
            "gate_s": round(gate_s, 3),
            "gate_engaged": gate_engaged,
            "measured_batches": len(lat),
            "events_measured": int(lat_all.size),
            "event_p99_ms": float(np.percentile(lat_all, 99)),
            "program_p50_ms": median(program_p50) if program_p50 else None,
            "backlog_rows": [round(x) for x in backlog],
            "drain_s": [round(d["drain_s"], 3) for d in drains],
            "recovery": recoveries,
            "steal_pct": [steal_pct(w) for w in weathers],
            "cpu_stall_ms": [cpu_stall_ms(w) for w in weathers],
            "stormy": any(stormy(w) for w in weathers),
            "errors": self.errors[:10],
        }
        layers = {}
        if self.trace:
            layers = self._layers(
                live,
                measured_ids,
                lat_all,
                backlog,
                program_p50,
                sink,
                recoveries,
                drains,
                kernel_eps,
                live_weather,
                t_import - t_start,
                t_session - t_session0,
            )
        return end_to_end, layers, details

    def _kernel_eps(self, backlog_dir: str) -> float:
        """Parse + fused aggregation over one cached batch of wire events."""
        from kafka_spark_streaming_eval_spark.streaming import metrics_job

        wire = self.spark.read.parquet(backlog_dir).cache()
        wire.count()
        times = []
        for i in range(3):
            t0 = time.perf_counter()
            metrics_job.batch_metrics(metrics_job.parse_events(wire), i).collect()
            times.append(time.perf_counter() - t0)
        wire.unpersist()
        return BACKLOG_EVENTS / median(times)

    def _layers(
        self, live, measured_ids, lat_all, backlog, program_p50, sink, recoveries,
        drains, kernel_eps, live_weather, import_s, session_s,
    ) -> dict:
        from tracing import EventLog, exec_metrics, iso_ms

        measured = [live[i] for i in sorted(measured_ids) if i in live]
        dur = lambda key: median([b["durations"].get(key, 0) for b in measured])  # noqa: E731
        log_ = EventLog(os.path.join(self.work, "eventlog"))
        t0_ms = iso_ms(measured[0]["timestamp"])
        t1_ms = iso_ms(measured[-1]["timestamp"]) + measured[-1]["durations"].get(
            "triggerExecution", 0
        )
        layers = exec_metrics(
            log_.totals(log_.jobs_where(t0_ms=t0_ms, t1_ms=t1_ms)), per=max(len(measured), 1)
        )
        traced = [d["drain_s"] for d in drains if d["traced"]]
        plain = [d["drain_s"] for d in drains if not d["traced"]]
        layers.update(
            {
                "session.start_s": session_s,
                "registry.import_s": import_s,
                "metrics_job.kernel_eps": kernel_eps,
                "metrics_job.sink_ms": median(sink),
                "stream.trigger_ms": dur("triggerExecution"),
                "stream.addbatch_ms": dur("addBatch"),
                "stream.walcommit_ms": dur("walCommit"),
                "stream.commitoffsets_ms": dur("commitOffsets"),
                "stream.planning_ms": dur("queryPlanning"),
                "stream.latestoffset_ms": dur("latestOffset"),
                "stream.batches": float(len(measured)),
                "stream.backlog_rows": median(backlog),
                "stream.event_p99_ms": float(np.percentile(lat_all, 99)),
                "stream.program_p50_ms": median(program_p50),
                "stream.drain_eps": BACKLOG_EVENTS / median(plain),
                "recovery.restart_ms": median([r["restart_ms"] for r in recoveries]),
                "recovery.first_batch_ms": median([r["first_batch_ms"] for r in recoveries]),
                "host.steal_pct": steal_pct(live_weather),
                "host.cpu_stall_ms": cpu_stall_ms(live_weather),
                "trace.overhead_pct": 100.0 * (median(traced) / median(plain) - 1.0),
            }
        )
        return layers


def run(seed: int, seconds: int, trace: bool, root: str):
    r = StreamRun(seed, seconds, trace, root)
    e2e, layers, details = r.run()
    log(f"stream: {details}")
    return r.failed == 0, r.attempted, r.failed, e2e, layers, details
