"""Registered streaming queries (SURVEY §2.a T-series + §2.b event-time
extensions).

Each entry really runs the Structured Streaming engine: a file source over
the testdata parquet drives a streaming query to completion synchronously
(``processAllAvailable`` + memory sink), and the materialized result is
returned as a normal DataFrame — so the driver's DuckDB oracle can check
streaming semantics (tumbling/sliding windows, streaming dedup) exactly.

Batch/stream parity is the correctness argument: these queries produce
bit-identical results to their batch formulation because Structured
Streaming's incremental execution is just a different physical strategy for
the same logical plan (and the tests in tests/test_streaming.py assert that
equivalence directly).
"""

from __future__ import annotations

import itertools
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.catalog import (
    events_long_ts_divisor,
    events_ts_ms,
    table,
)
from kafka_spark_streaming_eval_spark.functions.numeric import davg, davg_sql, dsum, dsum_sql
from kafka_spark_streaming_eval_spark.operators.metrics import _EV
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import prep
from kafka_spark_streaming_eval_spark.streaming.generator import synth_events_batch

_name_counter = itertools.count()

# Staging dirs are content-keyed CACHES reused across calls (never deleted
# while the process lives), so the only race is two in-process threads
# building the same dir at once — e.g. a driver running stream queries in
# parallel on one session.  A per-dir lock + a _READY sentinel serializes
# the one-time build of THAT dir only: two threads staging different dirs
# (different queries, different slicings) proceed concurrently instead of
# queueing behind each other's heavy parquet I/O.  Every later call
# returns on the sentinel check without touching any lock.
_STAGE_LOCKS: dict[str, threading.Lock] = {}
_STAGE_LOCKS_GUARD = threading.Lock()


def _ensure_staged(d: str, build) -> str:
    """Thread-safe idempotent staging: the first caller runs ``build(d)``
    and drops a ``_READY`` sentinel; concurrent callers of the SAME dir
    block until it lands; subsequent calls are a single existence check."""
    import os

    ready = os.path.join(d, "_READY")
    if os.path.exists(ready):
        return d
    with _STAGE_LOCKS_GUARD:
        lock = _STAGE_LOCKS.setdefault(d, threading.Lock())
    with lock:
        if not os.path.exists(ready):
            os.makedirs(d, exist_ok=True)
            build(d)
            open(ready, "w").close()
    return d


def _src_fingerprint(path: str) -> str:
    """mtime+size content key: a regenerated testdata file at the same path
    gets a fresh staging dir, so cached sentinels/symlinks can't go stale."""
    import os

    st = os.stat(path)
    return f"{st.st_mtime_ns}_{st.st_size}"


def _stream_dir(sf_dir: str, name: str) -> str:
    """The parquet file-stream source needs a flat *directory* of data
    files; stage one with symlinks to the (read-only) testdata.

    Handles both table layouts (VERDICT r14 item 1): a single parquet file
    (driver testdata — one symlink) and a directory of part files (every
    Spark-written table — one symlink per part file, flattened, because the
    file stream source does not recurse into subdirectories by default).
    A table directory with no top-level part file (nested or partitioned
    layouts) raises ``ValueError`` instead of streaming an empty result."""
    import os

    from kafka_spark_streaming_eval_spark.session import scratch_dir

    src = f"{sf_dir}/{name}.parquet"
    d = scratch_dir("stream_src", sf_dir, name, _src_fingerprint(src))

    def build(d: str) -> None:
        targets = (
            [
                (os.path.join(src, f), f)
                for f in sorted(os.listdir(src))
                if f.endswith(".parquet")
            ]
            if os.path.isdir(src)
            else [(src, f"{name}.parquet")]
        )
        if not targets:
            raise ValueError(
                f"{src}: no top-level *.parquet part files to stream "
                "(nested or partitioned table directories are not supported)"
            )
        for target, link_name in targets:
            try:
                os.symlink(target, os.path.join(d, link_name))
            except FileExistsError:
                pass  # leftover from an interrupted build; same target

    return _ensure_staged(d, build)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (ms-truncated ts like the
    batch catalog).  The file source replays the parquet as micro-batches —
    same code path as Kafka minus the network (SURVEY §7 'format is the only
    difference')."""
    prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir, "events"))
    return events_ts_ms(
        raw, long_divisor=events_long_ts_divisor(f"{sf_dir}/events.parquet")
    )


# State-store sizing for the bounded replay exhibits: ~this many input rows
# per state partition (same density rule as graph.py's loop_parts).  A
# stateful operator plans one state store per shuffle partition and pays a
# per-batch (load + commit + delta-file fsync) cycle on EVERY store, so 32
# near-empty stores cost ~32 fsync cycles per micro-batch to hold a few
# hundred keys — measured r14 at sf0.1: a 4-batch count-only stream fell
# 3.15 s -> 1.33 s going from 32 to 4 state partitions.  State partitioning
# is a per-job decision pinned by the checkpoint (NOT AQE-adjustable), so
# sizing it to expected state volume is exactly what a production stream
# does; inputs large enough to fill the session's partitions keep them.
STATE_ROWS_PER_PART = 50_000


def _state_parts(spark: SparkSession, approx_rows: int) -> int:
    sess = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return max(1, min(sess, approx_rows // STATE_ROWS_PER_PART + 1))


def _stream_session(
    spark: SparkSession, state_rows: int | None = None
) -> SparkSession:
    """Isolated SQLConf for ONE streaming exhibit (ADVICE r14 medium).

    State-store partition sizing is a per-query decision; the r14
    set/run/restore on the SHARED session leaked the tiny partition count
    to any query planned concurrently, and two overlapping exhibits could
    restore each other's temporary value.  ``newSession()`` shares the
    SparkContext, catalog and cache but owns its SQLConf, so the sizing is
    invisible outside the exhibit and reentrant by construction.  The new
    session starts from context defaults, so it is re-``prep``ed and its
    shuffle partitioning is sized to ``state_rows`` (``_state_parts``,
    capped at the PARENT session's parallelism) — or inherits the parent's
    value verbatim when no state bound is known."""
    iso = prep(spark.newSession())
    conf_key = "spark.sql.shuffle.partitions"
    if state_rows is not None:
        iso.conf.set(conf_key, str(_state_parts(spark, state_rows)))
    else:
        iso.conf.set(conf_key, spark.conf.get(conf_key, "32"))
    return iso


_TABLE_ROWS_CACHE: dict[str, int] = {}


def _table_rows(sf_dir: str, name: str) -> int:
    """Row count of a testdata table from parquet metadata (no scan).

    Handles BOTH layouts a parquet table ships in: a single file (the
    driver's testdata) and a directory of part files (what every Spark
    write — and therefore every real deployment — produces).  VERDICT r14
    item 1: the single-file assumption crashed all 9 streaming query paths
    on directory-layout tables."""
    import os

    import pyarrow.parquet as pa_pq

    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    key = f"{path}|{st.st_mtime_ns}|{st.st_size}"
    n = _TABLE_ROWS_CACHE.get(key)
    if n is None:
        if os.path.isdir(path):
            n = 0
            for root, _dirs, files in os.walk(path):
                for fname in files:
                    if fname.endswith(".parquet"):
                        n += pa_pq.ParquetFile(
                            os.path.join(root, fname)
                        ).metadata.num_rows
        else:
            n = pa_pq.ParquetFile(path).metadata.num_rows
        _TABLE_ROWS_CACHE[key] = n
    return n


def _run_to_table(stream_df: DataFrame, mode: str) -> DataFrame:
    """Drive a streaming aggregation to completion; return the result table.

    State-store partition sizing happens where the stream is BUILT (the
    exhibit passes its input row bound to ``_stream_session`` and builds
    the stream on that isolated session) — this helper no longer mutates
    any conf, so it is safe under concurrent query construction."""
    spark = stream_df.sparkSession
    name = f"stream_result_{next(_name_counter)}"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_tumbling_counts",
    "streaming",
    oracle=f"""
    SELECT epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS window_start_ms,
           event_type, count(*) AS n, {dsum_sql('value')} AS total_value
    FROM {_EV}
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-series + event-time: tumbling 1-day window aggregation executed BY
    THE STREAMING ENGINE (file source -> window agg -> memory sink,
    complete mode), then compared against the batch oracle — the
    batch/stream equivalence gate."""
    ev = _events_stream(_stream_session(spark, _table_rows(sf_dir, "events")), sf_dir)
    agg = ev.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "stream_sliding_throughput",
    "streaming",
    oracle=f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '6 hours', ts) AS ws, value FROM {_EV}
      UNION ALL
      SELECT time_bucket(INTERVAL '6 hours', ts) - INTERVAL '6 hours' AS ws, value
      FROM {_EV}
    )
    SELECT epoch_ms(ws) AS window_start_ms, count(*) AS n,
           round(count(*) / 43200.0, 6) AS eps
    FROM assigned GROUP BY ws
    """,
)
def stream_sliding_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (12h window, 6h slide): every event lands in exactly
    two windows; throughput = events per window second (generalizes the
    reference's batch_events / trigger_sec)."""
    ev = _events_stream(_stream_session(spark, _table_rows(sf_dir, "events")), sf_dir)
    agg = ev.groupBy(F.window("ts", "12 hours", "6 hours")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "n",
        F.round(F.col("n") / 43200.0, 6).alias("eps"),
    )


@register(
    "stream_dedup_within_watermark",
    "streaming",
    oracle=f"""
    SELECT event_type, count(DISTINCT event_id) AS n_unique
    FROM {_EV}
    GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: the input is doubled (union with itself), then
    ``dropDuplicatesWithinWatermark`` on event_id removes the copies while
    the watermark bounds the dedup state — the unbounded-stream-safe version
    of dropDuplicates.  Oracle: distinct count per type on the clean input."""
    # doubled input: dedup state holds ~2x the events rows inside the watermark
    ev = _events_stream(
        _stream_session(spark, 2 * _table_rows(sf_dir, "events")), sf_dir
    )
    doubled = ev.unionByName(ev)
    deduped = doubled.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    return _run_to_table(agg, "complete")


@register(
    "stream_session_windows",
    "streaming",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '4 hours'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM {_EV}
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    )
    SELECT user_id, epoch_ms(min(ts)) AS session_start_ms, count(*) AS n_events
    FROM sessions GROUP BY user_id, session_no
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (4h inactivity gap) per user via the native
    ``session_window`` operator; the oracle is the classic gaps-and-islands
    formulation.  (Batch execution of the same operator; the streaming
    variant with watermark is exercised in tests/test_streaming.py.)"""
    ev = table(prep(spark), sf_dir, "events")
    agg = ev.groupBy(F.session_window("ts", "4 hours"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return agg.select(
        "user_id",
        F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
        "n_events",
    )


@register(
    "stream_event_synth_agg",
    "streaming",
    oracle="""
    SELECT CASE CAST(i % 4 AS INTEGER) WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                WHEN 2 THEN 'purchase' ELSE 'login' END AS event_type,
           count(*) AS n,
           CAST(SUM(CAST((i % 1000) / 10.0 AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           count(DISTINCT i % 10000) AS n_users,
           min(1700000000000 + CAST(i * 1000 / 1000 AS BIGINT)) AS first_ts_ms
    FROM range(100000) t(i) GROUP BY 1
    """,
)
def stream_event_synth_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator parity (T5, producer.py:38-45): 100k synthetic events from
    the deterministic generator, aggregated per type.  The oracle recomputes
    the same pure functions of the sequence number over range()."""
    ev = synth_events_batch(prep(spark), 100_000, rate_eps=1000)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("created_ts").alias("first_ts_ms"),
    )


@register(
    "stream_csv_wire_roundtrip",
    "streaming",
    oracle="""
    SELECT CASE CAST(i % 4 AS INTEGER) WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                WHEN 2 THEN 'purchase' ELSE 'login' END AS event_type,
           count(*) AS n,
           CAST(SUM(CAST((i % 1000) / 10.0 AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           count(DISTINCT i % 10000) AS n_users,
           min(1700000000000 + CAST(i * 1000 / 1000 AS BIGINT)) AS first_ts_ms
    FROM range(100000) t(i) GROUP BY 1
    """,
)
def stream_csv_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV wire-format round-trip parity (r14): 100k generator events encoded
    with the positional delimited wire (``generator.to_wire(fmt="csv")``),
    decoded with ``parse_events(wire="csv")``, aggregated per type — same
    oracle as ``stream_event_synth_agg``, so a pass proves the CSV codec
    round-trips every field (ids, timestamps, doubles) bit-exactly.  The CSV
    wire is a first-class ingest option because the r13 parse-knee
    experiment measured the JSON ingest ceiling as tokenizer-bound (~500k
    eps/node full parse; SCALE.md rounds 13–14) — wire-format choice, not
    Spark configuration, is the capacity lever."""
    from kafka_spark_streaming_eval_spark.streaming.generator import to_wire
    from kafka_spark_streaming_eval_spark.streaming.metrics_job import parse_events

    ev = synth_events_batch(prep(spark), 100_000, rate_eps=1000)
    parsed = parse_events(to_wire(ev, fmt="csv"), wire="csv")
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("created_ts").alias("first_ts_ms"),
    )


@register(
    "stream_static_enrich_join",
    "streaming",
    oracle=f"""
    WITH stats AS (
      SELECT event_type, {davg_sql('value')} AS avg_value FROM {_EV} GROUP BY event_type
    )
    SELECT e.event_type,
           epoch_ms(time_bucket(INTERVAL '1 day', e.ts)) AS day_ms,
           count(*) FILTER (WHERE e.value > s.avg_value) AS n_above_avg,
           count(*) AS n
    FROM {_EV} e JOIN stats s ON e.event_type = s.event_type
    GROUP BY 1, 2
    """,
)
def stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the streaming events join a static
    (batch-computed) per-type profile via broadcast — the standard dimension
    -enrichment shape; the static side is re-read per micro-batch, never
    shuffled against the stream.  Windowed agg counts events above their
    type's historical average.  The average is decimal-exact (davg) so both
    engines compare the same bits."""
    iso = _stream_session(spark, _table_rows(sf_dir, "events"))
    ev_static = table(iso, sf_dir, "events")
    stats = ev_static.groupBy("event_type").agg(davg("value").alias("avg_value"))
    stream = _events_stream(iso, sf_dir)
    enriched = stream.join(F.broadcast(stats), "event_type")
    agg = enriched.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.sum(F.when(F.col("value") > F.col("avg_value"), 1).otherwise(0)).alias(
            "n_above_avg"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        "event_type",
        F.unix_millis(F.col("window.start")).alias("day_ms"),
        "n_above_avg",
        "n",
    )


@register(
    "stream_stream_interval_join",
    "streaming",
    oracle=f"""
    SELECT c.event_id AS click_id, v.event_id AS view_id,
           c.user_id,
           epoch_ms(c.ts) - epoch_ms(v.ts) AS gap_ms
    FROM {_EV} c JOIN {_EV} v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts >= c.ts - INTERVAL 6 HOUR AND v.ts <= c.ts
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time interval condition: every
    click pairs with the same user's views from the preceding 6 hours —
    the attribution-join shape (impressions↔conversions).  BOTH sides are
    live streams with watermarks; the engine buffers each side in state and
    the interval bound + watermark define exactly when a buffered row can
    be dropped — without the time bound, two-stream state would grow
    forever.  At 100 TB-scale ingest, state is partitioned by the join key
    (user_id) across executors and RocksDB-backed.

    The oracle is the identical join as plain batch SQL — batch/stream
    equivalence for the two-stream stateful operator."""
    iso = _stream_session(spark, 2 * _table_rows(sf_dir, "events"))
    clicks = (
        _events_stream(iso, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    views = (
        _events_stream(iso, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 day")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("view_ts") <= F.col("click_ts")),
    )
    out = _run_to_table(joined, "append")
    return out.select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_millis("click_ts") - F.unix_millis("view_ts")).alias("gap_ms"),
    )


def _left_outer_staged_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage a stream directory for the left-outer join: the real events
    file plus three far-future single-row sentinel files.  Structured
    Streaming only emits null-padded unmatched rows when a LATER batch
    runs with an advanced watermark; sentinel batches advance it and
    subsequent batches run eviction under it (empirically the flush lands
    two batches behind the last data batch).  (``maxFilesPerTrigger=1``
    turns each file into its own micro-batch.)"""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.session import scratch_dir

    src = f"{sf_dir}/events.parquet"
    # PID + content fingerprint: no cross-process races, and regenerated
    # testdata invalidates the cached staging; _ensure_staged serializes
    # concurrent in-process builders.
    d = scratch_dir("stream_loj", sf_dir, _src_fingerprint(src))

    def build(d: str) -> None:
        import pyarrow.compute as pc

        try:
            os.symlink(src, os.path.join(d, "events.parquet"))
        except FileExistsError:
            pass  # leftover from an interrupted build; same target
        orig = pq.read_table(src)
        max_ts = pc.max(orig.column("ts").cast(pa.int64())).as_py()
        decade_ns = 10 * 365 * 24 * 3600 * 1_000_000_000
        for i, name in enumerate(
            ["sentinel_a.parquet", "sentinel_b.parquet", "sentinel_c.parquet"]
        ):
            # one click + one view per sentinel: the rows must SURVIVE each
            # side's event_type filter (pushed below the watermark operator)
            # or the watermark never advances; user_id -1 marks them for
            # removal from the final result
            row = {
                "event_id": [-(2 * i + 1), -(2 * i + 2)],
                "ts": [max_ts + (i + 1) * decade_ns] * 2,
                "user_id": [-1, -1],
                "event_type": ["click", "view"],
                "value": [0.0, 0.0],
                "props": ["{}", "{}"],
            }
            t = pa.table(
                {
                    f.name: pa.array(row[f.name], type=pa.int64()).cast(f.type)
                    if pa.types.is_timestamp(f.type)
                    else pa.array(row[f.name], type=f.type)
                    for f in orig.schema
                },
                schema=orig.schema,
            )
            path = os.path.join(d, name)
            pq.write_table(t, path)
            # file source orders batches by mod time: sentinels strictly after
            os.utime(path, (time.time() + 10 * (i + 1), time.time() + 10 * (i + 1)))

    return _ensure_staged(d, build)


@register(
    "stream_stream_left_outer_join",
    "streaming",
    oracle=f"""
    WITH c AS (SELECT event_id, user_id, ts FROM {_EV} WHERE event_type = 'click'),
         v AS (SELECT event_id, user_id, ts FROM {_EV} WHERE event_type = 'view')
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           epoch_ms(c.ts) - epoch_ms(v.ts) AS gap_ms
    FROM c LEFT JOIN v
      ON c.user_id = v.user_id
     AND v.ts >= c.ts - INTERVAL 6 HOUR AND v.ts <= c.ts
    """,
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits — paired
    with same-user views from the preceding 6 h when they exist, null-padded
    otherwise.  The outer side is the genuinely stateful part: an unmatched
    click can only emit once the watermark proves no matching view can
    still arrive, so emission is driven by watermark advancement, not data
    arrival.  The staged source appends two far-future sentinel batches
    because eviction runs one batch behind the watermark update — the
    deterministic replay of the production situation where outer results
    trail the stream by one trigger.  State scales exactly like the inner
    variant (``stream_stream_interval_join``): keyed by user_id, bounded
    by the 6 h interval + watermark delay.  The oracle is the identical
    LEFT JOIN in batch SQL — batch/stream equivalence including the null
    rows."""
    iso = _stream_session(spark, 2 * _table_rows(sf_dir, "events"))
    iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    staged = _left_outer_staged_dir(iso, sf_dir)
    schema = iso.read.parquet(f"{sf_dir}/events.parquet").schema

    def side() -> DataFrame:
        raw = (
            iso.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        return events_ts_ms(
            raw, long_divisor=events_long_ts_divisor(f"{sf_dir}/events.parquet")
        ).withWatermark("ts", "1 hour")

    clicks = (
        side()
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    views = (
        side()
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("view_ts") <= F.col("click_ts")),
        "leftOuter",
    )
    out = _run_to_table(joined, "append")
    return out.where(F.col("user_id") >= 0).select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_millis("click_ts") - F.unix_millis("view_ts")).alias("gap_ms"),
    )


@register(
    "stream_python_datasource_source",
    "streaming",
    oracle=f"""
    WITH src AS (
      SELECT i % 10000 AS user_id,
             ['click', 'view', 'purchase', 'login'][(i % 4) + 1] AS event_type,
             CAST(i % 1000 AS DOUBLE) / 10.0 AS value
      FROM generate_series(0, 49999) t(i)
    )
    SELECT event_type,
           count(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM src
    GROUP BY event_type
    """,
)
def stream_python_datasource_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API, STREAMING side: the same synthetic
    event generator as ``src_python_datasource_events`` exposed through
    ``SimpleDataSourceStreamReader`` — offsets are row indices, each
    trigger admits one 25k-row slice, and the engine's offset log gives
    exactly-once replay (``read`` is re-run deterministically from the
    committed offset on recovery, which only works because the generator
    is a pure function of the index — the reference producer's property,
    producer.py:38-45).  A bounded total makes the stream drain: once the
    offset reaches the end, read() returns an empty slice and the same
    offset, and processAllAvailable unblocks.  The aggregated result must
    equal the batch oracle over generate_series — custom-source streaming
    and plain SQL agree exactly."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    # Slice size is a measured micro-batch-overhead decision (r15): each
    # SimpleDataSourceStreamReader slice costs ~0.6 s of driver-side read +
    # batch planning regardless of rows, so 5 x 10k slices spent ~3.3 s on
    # ~0.1 s of aggregation work.  Two slices keep the multi-batch
    # offset-log replay this exhibit exists to prove; the aggregate is
    # slice-boundary-invariant either way.
    TOTAL, STEP = 50_000, 25_000

    class SynthStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            lo = start["i"]
            hi = min(lo + STEP, TOTAL)
            types = ["click", "view", "purchase", "login"]
            rows = iter(
                [
                    (i % 10000, types[i % 4], (i % 1000) / 10.0)
                    for i in range(lo, hi)
                ]
            )
            return rows, {"i": hi}

        def readBetweenOffsets(self, start, end):
            types = ["click", "view", "purchase", "login"]
            return iter(
                [
                    (i % 10000, types[i % 4], (i % 1000) / 10.0)
                    for i in range(start["i"], end["i"])
                ]
            )

    class SynthEventsStream(DataSource):
        @classmethod
        def name(cls):
            return "syntheventsstream"

        def schema(self):
            return "user_id long, event_type string, value double"

        def simpleStreamReader(self, schema):
            return SynthStreamReader()

    # Isolated session sized to the generated row bound (r15): the
    # complete-mode agg holds 4 keys of state, but its store count follows
    # spark.sql.shuffle.partitions — on the shared session that meant 32
    # near-empty stores paying load+commit per micro-batch, x5 slices.
    spark = _stream_session(spark, TOTAL)
    spark.dataSource.register(SynthEventsStream)
    stream = spark.readStream.format("syntheventsstream").load()
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )
    # processAllAvailable can return between slices (the simple reader's
    # prefetcher advances the latest offset asynchronously): drain by
    # polling the aggregate until every generated row is accounted for
    import time

    name = f"stream_result_{next(_name_counter)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            got = spark.table(name).agg(F.sum("n_events")).collect()[0][0]
            if got == TOTAL:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("stream did not drain to TOTAL rows")
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_foreachbatch_merge_upsert",
    "streaming",
    oracle=f"""
    WITH e AS (SELECT user_id, ts, event_id, value FROM {_EV}),
    ranked AS (
      SELECT user_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM e
    ),
    agg AS (
      SELECT user_id, count(*) AS n_events, epoch_ms(max(ts)) AS last_ts_ms
      FROM e GROUP BY user_id
    )
    SELECT a.user_id, a.n_events, a.last_ts_ms, r.value AS last_value
    FROM agg a JOIN ranked r ON a.user_id = r.user_id AND r.rn = 1
    """,
)
def stream_foreachbatch_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert into a serving table via ``foreachBatch`` — the
    production pattern for maintaining per-key state (latest event + running
    count per user) in a table a downstream service reads, when the sink has
    no native streaming MERGE.  The events file is staged as 4 splits with
    ``maxFilesPerTrigger=1``, so the merge genuinely runs once per
    micro-batch: each batch pre-aggregates per user (count + max
    (ts, event_id, value) struct — an argmax that is total-ordered, so batch
    boundaries can never flip it), full-outer-joins the running target, and
    writes the next target version.  The final table equals the one-shot
    batch aggregation whatever the batch split — the merge is associative by
    construction (counts add, struct-max is commutative).

    Scale: per-batch work is one keyed agg + one key-equality join against a
    target partitioned the same way; nothing global, no driver state beyond
    the current-version pointer (exactly the checkpointable pattern Delta's
    ``MERGE INTO`` runs under foreachBatch)."""
    import os

    import pyarrow.parquet as pa_pq

    from kafka_spark_streaming_eval_spark.session import scratch_dir

    prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir}/events.parquet"

    def build(d: str) -> None:
        t = pa_pq.read_table(src)
        step = (t.num_rows + 3) // 4
        for i in range(4):
            pa_pq.write_table(
                t.slice(i * step, step), os.path.join(d, f"part_{i}.parquet")
            )

    d = _ensure_staged(
        scratch_dir("stream_merge_src", sf_dir, _src_fingerprint(src)), build
    )
    schema = spark.read.parquet(src).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    ev = events_ts_ms(raw, long_divisor=events_long_ts_divisor(src))
    run_id = next(_name_counter)
    tgt_root = scratch_dir("stream_merge_tgt", sf_dir, str(run_id))
    ckpt = scratch_dir("stream_merge_ckpt", sf_dir, str(run_id))
    state = {"cur": None}

    def merge(batch_df, batch_id):
        b = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.struct("ts", "event_id", "value")).alias("last"),
        )
        if state["cur"] is not None:
            cur = batch_df.sparkSession.read.parquet(state["cur"])
            b = (
                cur.alias("c")
                .join(b.alias("n"), "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce(F.col("c.n_events"), F.lit(0))
                        + F.coalesce(F.col("n.n_events"), F.lit(0))
                    ).alias("n_events"),
                    F.greatest(F.col("c.last"), F.col("n.last")).alias("last"),
                )
            )
        nxt = os.path.join(tgt_root, f"v{batch_id}")
        b.write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt

    q = (
        ev.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    final = spark.read.parquet(state["cur"])
    return final.select(
        "user_id",
        "n_events",
        F.unix_millis(F.col("last.ts")).alias("last_ts_ms"),
        F.col("last.value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Lateness audit — choosing the watermark from historical disorder
# ---------------------------------------------------------------------------


@register(
    "stream_lateness_audit",
    "streaming",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS high_water
      FROM {_EV}
    ),
    late AS (
      SELECT event_type,
             CAST(epoch_ms(high_water) - epoch_ms(ts) AS BIGINT) AS lateness_ms
      FROM arr
    )
    SELECT event_type,
           count(*) AS n,
           max(lateness_ms) AS max_lateness_ms,
           count(*) FILTER (WHERE lateness_ms > 60000) AS late_1m,
           count(*) FILTER (WHERE lateness_ms > 600000) AS late_10m,
           count(*) FILTER (WHERE lateness_ms > 3600000) AS late_1h
    FROM late
    GROUP BY event_type
    """,
)
def stream_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit for watermark selection: treating event_id as
    arrival order, track the running event-time high-water mark and count,
    per event type, how many rows arrive more than 1 min / 10 min / 1 h
    behind it — exactly the rows `withWatermark` at each delay would drop.
    This is the batch query an operator runs over history BEFORE picking
    the streaming pipeline's watermark (`stream_tumbling_counts` and
    friends consume the chosen delay); max_lateness_ms is the zero-loss
    bound.

    Scale note: the running max is a single unpartitioned ordered window —
    correct for a global arrival sequence, and cheap because it streams
    (one pass, no buffering beyond the frame).  With per-source streams,
    partition the window by source and the shuffle keys by it."""
    from pyspark.sql import Window as W

    ev = events_ts_ms(table(prep(spark), sf_dir, "events"))
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, 0)
    late = ev.select(
        "event_type",
        (F.unix_millis(F.max("ts").over(w)) - F.unix_millis("ts")).alias(
            "lateness_ms"
        ),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("lateness_ms").alias("max_lateness_ms"),
        F.count_if(F.col("lateness_ms") > 60_000).alias("late_1m"),
        F.count_if(F.col("lateness_ms") > 600_000).alias("late_10m"),
        F.count_if(F.col("lateness_ms") > 3_600_000).alias("late_1h"),
    )
