"""Streaming-engine tests: the metrics foreachBatch job (fused agg),
checkpoint recovery (exp3 semantics), watermarked session windows, and the
rate-source generator."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.plans.registry import all_queries
from kafka_spark_streaming_eval_spark.streaming.generator import (
    synth_events_batch,
    synth_events_stream,
)
from kafka_spark_streaming_eval_spark.streaming.metrics_job import (
    MetricsCollector,
    batch_metrics,
    parse_events,
    run_metrics_stream,
)


def test_fused_batch_metrics(spark):
    """One fused agg computes the same stats the reference got from 4 jobs."""
    ev = synth_events_batch(spark, 5000)
    now = F.lit(1_700_000_600_000)
    row = batch_metrics(ev, batch_id=7, now_ms=now).collect()[0]
    assert row.batch_id == 7
    assert row.batch_events == 5000
    # created_ts spans [base, base+5s); latency vs base+600s ∈ (595s, 600s]
    assert 595_000 <= row.p50_latency_ms <= 600_000
    assert row.mean_latency_ms <= 600_000
    assert row.p50_latency_ms <= row.p95_latency_ms <= row.p99_latency_ms


def test_parse_events_roundtrip(spark):
    """Wire JSON -> from_json explicit schema -> flatten recovers the fields."""
    ev = synth_events_batch(spark, 100)
    wire = ev.select(
        F.to_json(
            F.struct("event_id", "created_ts", "user_id", "event_type", "value", "payload")
        ).alias("value")
    )
    back = parse_events(wire)
    assert back.columns == ["event_id", "created_ts", "user_id", "event_type", "value", "payload"]
    a = sorted(r.event_id for r in ev.select("event_id").collect())
    b = sorted(r.event_id for r in back.select("event_id").collect())
    assert a == b
    # malformed rows yield nulls (PERMISSIVE), not failures
    bad = spark.createDataFrame([("{not json",), ("42",)], "value string")
    nulls = parse_events(bad).where(F.col("event_id").isNull()).count()
    assert nulls == 2


def test_parse_events_pruned_fields(spark):
    """``fields=`` restricts the decoded schema to a wire-column subset and
    the values match the full parse (r13 parse-knee probe plumbing).  Also
    pins the optimizer behavior the probe relies on: the optimized plan of
    a created_ts-only consumer carries a pruned from_json schema even
    WITHOUT ``fields`` (Catalyst OptimizeJsonExprs)."""
    ev = synth_events_batch(spark, 100)
    wire = ev.select(
        F.to_json(
            F.struct("event_id", "created_ts", "user_id", "event_type", "value", "payload")
        ).alias("value")
    )
    pruned = parse_events(wire, fields=["created_ts"])
    assert pruned.columns == ["created_ts"]
    a = sorted(r.created_ts for r in parse_events(wire).select("created_ts").collect())
    b = sorted(r.created_ts for r in pruned.collect())
    assert a == b
    # optimizer prunes the full-schema parse down to the consumed column —
    # scope the check to the from_json schema (the wire-producing to_json
    # struct upstream legitimately names every field)
    import re

    consumer = parse_events(wire).select("created_ts")
    plan = consumer._jdf.queryExecution().optimizedPlan().toString()
    # schema prints as a comma-joined StructField list right after
    # "from_json(", ending at the input expression (a column ref or the
    # collapsed to_json invoke)
    m = re.search(r"from_json\(((?:StructField\([^)]*\),?)+)", plan)
    assert m, f"no from_json in optimized plan: {plan[:300]}"
    assert "created_ts" in m.group(1)
    assert "event_type" not in m.group(1)  # unused wire fields pruned


def test_parse_events_rejects_unknown_fields(spark):
    """A typo in ``fields=`` must raise, not silently decode an empty
    schema (ADVICE r13: fields=["created_tz"] would otherwise yield zero
    columns and a probe could measure a parse of nothing)."""
    import pytest

    ev = synth_events_batch(spark, 1)
    wire = ev.select(
        F.to_json(
            F.struct("event_id", "created_ts", "user_id", "event_type", "value", "payload")
        ).alias("value")
    )
    with pytest.raises(ValueError, match="created_tz"):
        parse_events(wire, fields=["created_tz"])
    with pytest.raises(ValueError, match="unknown wire field"):
        parse_events(wire, fields=["created_ts", "nope"])


def test_csv_wire_roundtrip_all_fields(spark):
    """The positional CSV wire (r14, parse-knee engineering conclusion)
    round-trips every field bit-exactly: encode with to_wire(fmt="csv"),
    decode with parse_events(wire="csv"), compare against both the JSON
    wire round-trip and the un-encoded events."""
    from kafka_spark_streaming_eval_spark.streaming.generator import (
        WIRE_FIELD_ORDER,
        to_wire,
    )

    ev = synth_events_batch(spark, 5000)
    via_csv = parse_events(to_wire(ev, fmt="csv"), wire="csv")
    via_json = parse_events(to_wire(ev, fmt="json"))
    assert via_csv.schema == via_json.schema
    a = sorted(map(tuple, via_csv.collect()))
    b = sorted(map(tuple, via_json.collect()))
    direct = sorted(map(tuple, ev.select(*WIRE_FIELD_ORDER).collect()))
    assert a == b == direct
    # fields= with the csv wire prunes the projection (decode stays full —
    # CSV is positional)
    pruned = parse_events(to_wire(ev, fmt="csv"), fields=["created_ts"], wire="csv")
    assert pruned.columns == ["created_ts"]
    assert sorted(r.created_ts for r in pruned.collect()) == sorted(
        t[1] for t in direct
    )
    # unknown formats raise
    with pytest.raises(ValueError, match="wire format"):
        to_wire(ev, fmt="avro")
    with pytest.raises(ValueError, match="wire format"):
        parse_events(to_wire(ev, fmt="csv"), wire="xml")


def test_metrics_stream_and_checkpoint_recovery(spark, tmp_path):
    """exp3 semantics: run, stop, append data, restart from the checkpoint —
    every batch processed exactly once, no reprocessing after restart."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "metrics")
    os.makedirs(src)

    ev = synth_events_batch(spark, 1000)
    wire_cols = ("event_id", "created_ts", "user_id", "event_type", "value", "payload")
    ev.select(F.to_json(F.struct(*wire_cols)).alias("value")).write.mode("append").text(src)

    raw = spark.readStream.format("text").load(src)
    events = parse_events(raw)
    collector = MetricsCollector(outdir)
    query, sink = run_metrics_stream(events, ckpt, outdir, trigger_sec=1, collector=collector)
    query.processAllAvailable()
    query.stop()
    query.awaitTermination()
    first_total = sum(r.batch_events for r in sink.rows)
    assert first_total == 1000

    # restart with MORE data: only the new file is processed
    ev2 = synth_events_batch(spark, 500)
    ev2.select(F.to_json(F.struct(*wire_cols)).alias("value")).write.mode("append").text(
        src + "_extra"
    )
    for f in os.listdir(src + "_extra"):
        if f.endswith(".txt"):
            shutil.copy(f"{src}_extra/{f}", f"{src}/extra_{f}")

    raw2 = spark.readStream.format("text").load(src)
    events2 = parse_events(raw2)
    collector2 = MetricsCollector(outdir)
    query2, sink2 = run_metrics_stream(events2, ckpt, outdir, trigger_sec=1, collector=collector2)
    query2.processAllAvailable()
    query2.stop()
    query2.awaitTermination()
    second_total = sum(r.batch_events for r in sink2.rows)
    assert second_total == 500  # exactly-once: the original 1000 not re-read

    # the CSV sink accumulated both runs' summary rows (reference layout)
    metrics = spark.read.option("header", "true").csv(outdir)
    assert metrics.count() == len(sink.rows) + len(sink2.rows)


def test_session_window_streaming_append(spark, tmp_path):
    """session_window + watermark under the streaming engine (append mode):
    total event count across emitted sessions matches the input size."""
    src = str(tmp_path / "sess_src")
    ev = synth_events_batch(spark, 2000).select(
        F.timestamp_millis(F.col("created_ts")).alias("ts"), "user_id"
    )
    ev.write.mode("append").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    out = spark.table("sessions_out")
    # append mode only emits sessions closed by the watermark; with a single
    # batch the watermark advances to max(ts)-10min, so late sessions are
    # still open — assert emitted sessions are consistent, not exhaustive.
    emitted = out.agg(F.sum("n")).collect()[0][0] or 0
    assert 0 <= emitted <= 2000
    assert out.columns == ["session_window", "user_id", "n"]


def test_rate_source_generator(spark):
    """The rate-source streaming generator yields the producer's field
    distributions (T5 parity)."""
    stream = synth_events_stream(spark, rows_per_second=500)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.table("rate_out").count() >= 200:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    out = spark.table("rate_out")
    n = out.count()
    assert n >= 200, f"rate source produced only {n} rows"
    types = {r.event_type for r in out.select("event_type").distinct().collect()}
    assert types <= {"click", "view", "purchase", "login"}
    assert out.where((F.col("value") < 0) | (F.col("value") > 99.9)).count() == 0


KAFKA_BROKERS = os.environ.get("SPARK_GRAFT_KAFKA_BROKERS")


@pytest.mark.skipif(
    not KAFKA_BROKERS,
    reason="live Kafka smoke: set SPARK_GRAFT_KAFKA_BROKERS=host:port "
    "(requires the spark-sql-kafka connector on the classpath)",
)
def test_kafka_live_smoke(spark, tmp_path):
    """End-to-end parity with the reference pipeline against a REAL broker
    (spark_stream_metrics.py:33-40 consumer options, producer.py:38-47 wire
    format): produce reference-format JSON events to a fresh topic, consume
    via ``kafka_source`` at latest offsets, parse + run the fused metrics
    stream, and assert per-batch summary rows arrive.  Skipped without a
    broker — every other test drives the identical downstream plan through
    file/rate sources."""
    import uuid

    from kafka_spark_streaming_eval_spark.streaming.generator import event_columns
    from kafka_spark_streaming_eval_spark.streaming.metrics_job import kafka_source

    topic = f"sgraft_smoke_{uuid.uuid4().hex[:8]}"
    # Consumer first: startingOffsets=latest (reference semantics) sees only
    # events produced after the stream starts.
    events = parse_events(kafka_source(spark, KAFKA_BROKERS, topic))
    query, sink = run_metrics_stream(
        events, checkpoint=str(tmp_path / "ck"), trigger_sec=1
    )
    try:
        # startingOffsets=latest is only resolved when the source plans its
        # first micro-batch; producing before that snapshot would silently
        # skip all 500 records and time the test out.  Wait for at least one
        # (empty) batch to complete before producing.
        produce_deadline = time.time() + 30
        while time.time() < produce_deadline and not query.recentProgress:
            time.sleep(0.5)
        assert query.recentProgress, "stream never planned its first batch"
        wire = spark.range(500).select(
            F.to_json(F.struct(*event_columns(F.col("id")))).alias("value")
        )
        (
            wire.write.format("kafka")
            .option("kafka.bootstrap.servers", KAFKA_BROKERS)
            .option("topic", topic)
            .save()
        )
        deadline = time.time() + 90
        while time.time() < deadline and not sink.rows:
            time.sleep(1)
    finally:
        query.stop()
        query.awaitTermination()
    assert sink.rows, "no metric rows arrived from the live Kafka round-trip"
    assert sum(r.batch_events for r in sink.rows) == 500


def test_rocksdb_state_store_streaming_agg(spark, tmp_path):
    """The 100 TB state path, ungated: a watermarked windowed aggregation
    running on the RocksDB state store provider (state lives on executor
    local disk, not the JVM heap — the only viable provider once streaming
    state outgrows memory) must produce exactly the batch answer."""
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

    src = str(tmp_path / "rocksdb_src")
    df = synth_events_batch(spark, 20_000).withColumn(
        "ts", F.timestamp_millis(F.col("created_ts"))
    )
    df.repartition(4).write.mode("overwrite").parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", rocksdb)
    try:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 minute"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rocksdb_out")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    got = {
        (r.window.start, r.event_type, r.n)
        for r in spark.table("rocksdb_out").collect()
    }
    exp = {
        (r.window.start, r.event_type, r.n)
        for r in df.groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp and len(got) > 0


def test_hard_kill_recovery_no_loss(spark, tmp_path):
    """exp3 with a REAL failure: SIGKILL the streaming process mid-run (the
    reference killed spark-submit; the existing recovery test stops
    gracefully) and restart from the checkpoint in this process.

    The contract under hard kill is the Structured Streaming one:
    - NO LOSS — every staged event is processed by the child or the
      restarted query (offsets only advance after a batch commits);
    - duplicates confined to the REPLAY of uncommitted work — foreachBatch
      is at-least-once across a crash (the sink wrote its CSV row before
      the offset commit the kill pre-empted), bounded by the in-flight
      trigger, NOT unbounded reprocessing;
    - batch ids resume monotonically (restart continues the WAL, it does
      not start over)."""
    import glob
    import signal
    import subprocess
    import sys
    import time as _time

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "metrics")
    os.makedirs(src)
    wire_cols = ("event_id", "created_ts", "user_id", "event_type", "value", "payload")
    n_total = 10_000
    ev = synth_events_batch(spark, n_total)
    ev.select(F.to_json(F.struct(*wire_cols)).alias("value")).repartition(
        20
    ).write.mode("append").text(src)

    child_code = f"""
import sys
sys.path.insert(0, {repr(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))})
from pyspark.sql import SparkSession
from kafka_spark_streaming_eval_spark.streaming.metrics_job import (
    MetricsCollector, parse_events, run_metrics_stream)
spark = (SparkSession.builder.master("local[2]").appName("kill-me")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
raw = (spark.readStream.format("text").option("maxFilesPerTrigger", "2")
       .load({src!r}))
q, _ = run_metrics_stream(parse_events(raw), {ckpt!r}, outdir={outdir!r},
                          trigger_sec=1, collector=MetricsCollector({outdir!r}))
q.awaitTermination()
"""
    # own process GROUP so the SIGKILL takes the py4j JVM down atomically —
    # killing only the python driver leaves the JVM grandchild alive long
    # enough to race the parent's restart on the checkpoint offset log
    # (CONCURRENT_STREAM_LOG_UPDATE)
    child = subprocess.Popen(
        [sys.executable, "-c", child_code], start_new_session=True
    )
    try:
        # kill once real progress exists (>=2 committed CSV batch rows) but
        # well before the 10-batch corpus drains
        def committed_csvs():
            # the kill can land mid-write: ignore in-flight _temporary
            # staging attempts, count only committed task outputs
            return [
                f
                for f in glob.glob(
                    os.path.join(outdir, "**", "*.csv"), recursive=True
                )
                if "_temporary" not in f
            ]

        deadline = _time.time() + 120
        while _time.time() < deadline:
            if len(committed_csvs()) >= 2:
                break
            _time.sleep(0.2)
            assert child.poll() is None, "child exited before making progress"
        os.killpg(child.pid, signal.SIGKILL)
        child.wait(timeout=30)
        _time.sleep(1.0)  # settle before reusing the checkpoint
    finally:
        if child.poll() is None:
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    import pandas as pd

    frames = []
    for f in committed_csvs():
        try:  # a file can still be a torn partial — skip, like the
            frames.append(pd.read_csv(f))  # reference's read_rate_folder
        except (OSError, ValueError):
            pass
    frames = [f for f in frames if not f.empty]  # empty-frame concat warns
    assert frames, "no non-empty committed CSVs before the kill"
    committed = pd.concat(frames, ignore_index=True)
    c_events = int(committed["batch_events"].sum())
    c_max_batch = int(committed["batch_id"].max())
    assert 0 < c_events < n_total, "kill landed before any / after all batches"

    # restart from the SAME checkpoint in this process and drain the rest
    raw2 = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    collector = MetricsCollector()
    q2, sink = run_metrics_stream(
        parse_events(raw2), ckpt, trigger_sec=1, collector=collector
    )
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    r_events = sum(r.batch_events for r in sink.rows)
    r_batches = [int(r.batch_id) for r in sink.rows]

    # no loss: child-committed + restarted covers the whole corpus
    assert c_events + r_events >= n_total
    # duplicates bounded by the uncommitted in-flight trigger (2 files/trigger)
    per_trigger = 2 * (n_total // 20)
    assert c_events + r_events - n_total <= 2 * per_trigger, (
        c_events, r_events)
    # monotone resume: the WAL continues, it does not restart from batch 0
    if r_batches:
        assert min(r_batches) >= c_max_batch, (r_batches, c_max_batch)


def test_table_rows_directory_and_single_file_layouts(spark, tmp_path):
    """table_rows must count rows for BOTH parquet layouts: the driver's
    single-file testdata AND the directory-of-part-files layout every Spark
    write produces (VERDICT r14 item 1: the single-file assumption crashed
    all 9 streaming query paths on real deployments)."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from kafka_spark_streaming_eval_spark.catalog import table_rows

    d = str(tmp_path / "sf_layouts")
    os.makedirs(d, exist_ok=True)
    # directory layout: multi-part Spark write (plus a _SUCCESS marker)
    spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(4).write.mode(
        "overwrite"
    ).parquet(d + "/events.parquet")
    assert os.path.isdir(d + "/events.parquet")
    assert table_rows(d, "events") == 1000
    # single-file layout: the driver's testdata shape
    pa_pq.write_table(
        pa.table({"doc_id": list(range(37))}), d + "/documents.parquet"
    )
    assert os.path.isfile(d + "/documents.parquet")
    assert table_rows(d, "documents") == 37


def test_table_rows_sees_part_file_rewritten_in_place(tmp_path):
    """Rewriting a part file in place leaves the table directory's mtime
    unchanged; the row-count cache key must still change with it, for a
    top-level part and for one inside a hive partition directory."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from kafka_spark_streaming_eval_spark.catalog import table_rows

    for layout, sub in (("flat", "."), ("nested", "event_type=a")):
        sf = tmp_path / layout
        part_dir = sf / "events.parquet" / sub
        part_dir.mkdir(parents=True)
        for i in range(2):
            pa_pq.write_table(
                pa.table({"id": list(range(10))}), str(part_dir / f"part-{i}.parquet")
            )
        assert table_rows(str(sf), "events") == 20, layout
        dir_stat = os.stat(part_dir)
        pa_pq.write_table(
            pa.table({"id": list(range(25))}), str(part_dir / "part-1.parquet")
        )
        after = os.stat(part_dir)
        assert (after.st_mtime_ns, after.st_size) == (
            dir_stat.st_mtime_ns, dir_stat.st_size
        )
        assert table_rows(str(sf), "events") == 35, layout


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture(scope="module")
def flat_sf(spark, tmp_path_factory):
    """Flat directory copies (three Spark part files) of events, documents."""
    from tests.conftest import SF_DIR

    d = str(tmp_path_factory.mktemp("sf_flat"))
    for t in ("events", "documents"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").repartition(3).write.parquet(
            f"{d}/{t}.parquet"
        )
    return d


@pytest.mark.parametrize(
    "name",
    [
        "stream_tumbling_counts",
        "stream_sliding_throughput",
        "stream_dedup_within_watermark",
        "stream_static_enrich_join",
        "stream_stream_interval_join",
        "stream_stream_left_outer_join",
        "stream_foreachbatch_merge_upsert",
        "stream_stateful_running_count",
        "stream_incremental_contamination",
    ],
)
def test_file_sourced_stream_same_rows_on_directory_layout(spark, flat_sf, name):
    """Every file-sourced stream exhibit gives the same rows over a flat
    directory copy of its table as over the single-file original."""
    from tests.conftest import SF_DIR

    fn = all_queries()[name].fn
    single = _rows(fn(spark, SF_DIR))
    assert single and _rows(fn(spark, flat_sf)) == single


def test_staged_streams_keep_int96_timestamps(spark, tmp_path):
    """Split slices and left-outer sentinels are pyarrow rewrites of a table
    Spark wrote with INT96 timestamps; they must scan with its schema."""
    from tests.conftest import SF_DIR

    d = str(tmp_path)
    spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).repartition(3).write.parquet(f"{d}/events.parquet")
    for name in ("stream_foreachbatch_merge_upsert", "stream_stream_left_outer_join"):
        fn = all_queries()[name].fn
        assert _rows(fn(spark, d)) == _rows(fn(spark, SF_DIR)), name


def test_file_stream_reads_nested_table_layout(spark, tmp_path):
    """A hive-nested events directory streams unsplit with every row and its
    partition column; a split or sentinel stage, which would flatten the
    partition directories away, raises naming the table instead."""
    from kafka_spark_streaming_eval_spark.streaming.queries import file_stream
    from tests.conftest import SF_DIR

    d = str(tmp_path)
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.partitionBy(
        "event_type"
    ).parquet(f"{d}/events.parquet")
    fn = all_queries()["stream_tumbling_counts"].fn
    assert _rows(fn(spark, d)) == _rows(fn(spark, SF_DIR))
    with pytest.raises(ValueError, match="events.parquet"):
        file_stream(spark, d, "events", splits=4)
    with pytest.raises(ValueError, match="events.parquet"):
        all_queries()["stream_stream_left_outer_join"].fn(spark, d)


def test_merge_upsert_scratch_is_bounded(spark):
    """Repeated merge-upsert calls keep at most ``_FRESH_RETAIN`` target
    dirs (the returned DataFrame scans the newest lazily) and leave no
    checkpoint dir behind."""
    import glob

    from kafka_spark_streaming_eval_spark.session import _FRESH_RETAIN
    from tests.conftest import SF_DIR

    def dirs(tag):
        return set(glob.glob(f"/tmp/sgraft_{os.getpid()}_stream_merge_{tag}_*"))

    tgt0, ckpt0 = dirs("tgt"), dirs("ckpt")
    fn = all_queries()["stream_foreachbatch_merge_upsert"].fn
    for _ in range(_FRESH_RETAIN + 2):
        last = fn(spark, SF_DIR)
    assert len(dirs("tgt") - tgt0) <= _FRESH_RETAIN
    assert dirs("ckpt") - ckpt0 == set()
    assert last.count() > 0
