"""Deterministic event generator — the reference producer re-expressed as
column functions.

The reference producer (`/root/reference/producer/producer.py:37-54`) emits
JSON events at a fixed rate: ``event_id=uuid4``, ``created_ts=now_ms``,
``user_id = sent % 10000``, ``event_type`` cycling over four values,
``value = (sent % 1000)/10.0``, plus a size-padding payload.  Everything
except the uuid/wall-clock is a pure function of the sequence number, so the
Spark version derives every field from the row index: deterministic,
distributed, and identical between the batch (``spark.range``) and streaming
(``rate`` source) variants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_TYPES = ("click", "view", "purchase", "login")  # producer.py:42
BASE_TS_MS = 1_700_000_000_000  # fixed epoch anchor replacing wall-clock

# Wire field order — shared by the JSON wire (reference parity,
# producer.py:38-45) and the positional CSV wire (r14).  The CSV wire is
# decoded by position against ``metrics_job.EVENT_WIRE_SCHEMA``
# (``parse_events(wire="csv")``), so the two orders must agree;
# ``stream_csv_wire_roundtrip`` checks the round trip.
WIRE_FIELD_ORDER = (
    "event_id", "created_ts", "user_id", "event_type", "value", "payload",
)


def to_wire(
    events: DataFrame, fmt: str = "json", created_ts: Column | None = None
) -> DataFrame:
    """Encode event columns into the ONE wire string column ``value``.

    ``fmt="json"`` is the reference's wire format (producer.py:47:
    ``json.dumps`` per event).  ``fmt="csv"`` is the structured delimited
    wire the r13 parse-knee experiment motivates: the JSON ingest knee is
    bytes-per-record-bound in Jackson's tokenizer (~500k eps/node full
    parse, SCALE.md round 13), and a positional format replaces per-record
    key scanning with delimiter splits.  Univocity (Spark's CSV parser)
    still quotes/escapes any field containing the delimiter, so the wire
    stays general — the generator's own fields (hex event_id, numerics,
    four bare words, comma-free padding) never need quoting.

    ``created_ts`` optionally overrides the deterministic created_ts with a
    real emission-time column (a live stream passes
    ``unix_millis("ts")``)."""
    if fmt not in ("json", "csv"):
        raise ValueError(f"unknown wire format {fmt!r}")
    cols = [
        created_ts.alias("created_ts")
        if name == "created_ts" and created_ts is not None
        else name
        for name in WIRE_FIELD_ORDER
    ]
    enc = F.to_json if fmt == "json" else F.to_csv
    return events.select(enc(F.struct(*cols)).alias("value"))


def event_columns(seq: Column, rate_eps: int = 1000, size: int = 200) -> list[Column]:
    """Event fields as pure column functions of the sequence number ``seq``
    (producer.py:38-45 semantics, uuid/now replaced by deterministic
    equivalents)."""
    return [
        F.md5(F.concat(F.lit("evt-"), seq.cast("string"))).alias("event_id"),
        (F.lit(BASE_TS_MS) + (seq * 1000 / F.lit(rate_eps)).cast("long")).alias(
            "created_ts"
        ),
        (seq % 10000).cast("int").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in EVENT_TYPES]), (seq % 4).cast("int") + 1
        ).alias("event_type"),
        ((seq % 1000) / 10.0).alias("value"),
        F.rpad(F.lit(""), max(size - 120, 1), "x").alias("payload"),
    ]


def synth_events_batch(
    spark: SparkSession, n: int, rate_eps: int = 1000, size: int = 200
) -> DataFrame:
    """Bounded event set: ``spark.range`` is a parallel, partitioned source —
    generation scales out like any other scan."""
    return spark.range(n).select(*event_columns(F.col("id"), rate_eps, size))


def synth_events_stream(
    spark: SparkSession,
    rows_per_second: int,
    size: int = 200,
    num_partitions: int | None = None,
) -> DataFrame:
    """Unbounded event stream from the ``rate`` source — Spark's built-in
    rate limiter replaces the producer's sleep loop (producer.py:51-54).
    The rate source provides (timestamp, value); we keep its real event-time
    ``timestamp`` and derive all other fields from the sequence number.
    ``num_partitions`` is the source parallelism knob — the engine analog of
    the reference's Kafka topic partition count (exp2's scaling axis)."""
    reader = (
        spark.readStream.format("rate").option("rowsPerSecond", rows_per_second)
    )
    if num_partitions is not None:
        reader = reader.option("numPartitions", num_partitions)
    rate = reader.load()
    return rate.select(
        F.col("timestamp").alias("ts"),
        *event_columns(F.col("value"), rows_per_second, size),
    )
