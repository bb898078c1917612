"""Table catalog over the driver-generated parquet testdata.

Tables (TESTDATA.md / FIXTURES.md §4): ``region nation customer supplier part
orders lineitem events documents embeddings`` — one parquet file per table
under ``{sf_dir}/``, or a directory of part files (``part_files``).  This
module is the only one that knows a table's on-disk layout: its part files,
cache stamp, schema, scan splits, row count and ``events.ts`` encoding.

Metadata: one entry per table path (``_META``), built under the path's
``table_stamp`` and replaced when the stamp changes.  It holds the inferred
``StructType`` keyed on the session confs parquet schema inference reads
(``_SCHEMA_CONFS``), the planned scan split count keyed on the split confs
and the session parallelism (``_SPLIT_CONFS``), the footer row count and the
``events`` epoch divisor.  So a warm ``scan`` reads with
``spark.read.schema(cached)`` and launches no schema-inference job, and a
warm ``scan_parts`` plans nothing.

Scale note: on a production cluster these would be directories of many
parquet files (optionally partitioned, e.g. ``events`` by day); every reader
here goes through ``spark.read.parquet`` so partition discovery, predicate
pushdown and column pruning apply unchanged at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def events_long_ts_divisor(path: str) -> int:
    """Epoch-unit divisor (to ms) for a long-encoded ``ts`` column, detected
    from parquet column statistics — metadata only, no data scan.

    The testdata generator has already changed the ``ts`` encoding once
    between driver rounds; if a future vintage stores epoch ms or us as a
    plain long, a hard-coded nanosecond divide would silently corrupt every
    events query.  Magnitude disambiguates exactly (epoch-s ~1.7e9,
    -ms ~1.7e12, -us ~1.7e15, -ns ~1.7e18 for 2020s dates), over every
    row group of every part file.

    Returns a positive divisor to ms, or a NEGATIVE value whose magnitude
    is a multiplier to ms (epoch-seconds vintage).
    """
    divisor = 1_000_000  # nanos: the only long vintage observed so far
    try:
        import pyarrow.parquet as pq

        metas = [pq.ParquetFile(part).metadata for part in part_files(path)]
        mx = max(
            m.row_group(g).column(m.schema.names.index("ts")).statistics.max
            for m in metas
            for g in range(m.num_row_groups)
        )
        if isinstance(mx, int):
            if 0 < mx < 100_000_000_000:
                # Below ~year 5138 in epoch-ms means the values can only be
                # epoch-SECONDS (~1.7e9 for 2020s dates).  A divisor of 1
                # here would silently read seconds as ms and collapse every
                # date to 1970 — the exact bug this function exists to stop.
                # Negative return = multiplier to ms (see events_ts_ms).
                divisor = -1000
            else:
                divisor = 1
                while mx // divisor > 4_000_000_000_000:  # > ~2096 in epoch-ms
                    divisor *= 1000
    except Exception:
        pass  # stats unavailable -> keep the observed-vintage default
    return divisor


def events_ts_ms(df: DataFrame, long_divisor: int = 1_000_000) -> DataFrame:
    """Normalize ``events.ts`` to a ms-truncated TIMESTAMP (UTC instant).

    The testdata generator has stored ``ts`` two ways across rounds:
    TIMESTAMP(NANOS), which Spark cannot represent and reads as a
    nanosecond long under ``legacy.parquet.nanosAsLong``, and plain
    timestamp[us], which scans as TIMESTAMP_NTZ.  Both normalize to the
    same ms-truncated TIMESTAMP column, so every downstream query and its
    DuckDB oracle (``date_trunc('milliseconds', ts)``) agree bit-for-bit
    whichever file vintage is on disk.  ``long_divisor`` (from
    ``events_long_ts_divisor``) maps a long-encoded ts to epoch-ms.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):  # epoch-long vintage
        if long_divisor < 0:  # epoch-seconds: negative = multiplier to ms
            ts_ms = F.timestamp_millis(F.expr(f"ts * {-int(long_divisor)}"))
        else:
            ts_ms = F.timestamp_millis(F.expr(f"ts div {int(long_divisor)}"))
    else:  # timestamp[us] vintage -> TIMESTAMP_NTZ scan (session tz is UTC)
        ts_ms = F.timestamp_millis(F.expr("unix_micros(cast(ts as timestamp)) div 1000"))
    return df.withColumn("ts", ts_ms)


# Tables whose consumers do compute-heavy per-row map work (tokenization,
# 12x md5 minhashing, per-dimension vector arithmetic) straight off the
# scan, and the key that spreads them deterministically.  These scans are
# spread to session parallelism when the file layout cannot feed the cores
# (see session.spread_small_scan — a no-op on real multi-split inputs).
# lineitem/orders are deliberately NOT spread: the relational queries'
# scan-side work is light, and an explicit repartition node hides the
# scan-size statistics that let the planner auto-broadcast the dimension
# side — measured r14: join_star_revenue 0.93 s -> 3.79 s, tpch_q1
# 0.28 s -> 0.99 s with lineitem/orders in this map (SMJ replacing BHJ).
_SPREAD_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


# Session confs whose values change the schema Spark 4.1.2 infers for a
# parquet path: the footer converter's flags (``ParquetFileFormat.readSchema``)
# and which footers are read and how they merge.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
)
# Session confs the planner's file-split packing reads (ADVICE r14); the
# session parallelism rides the key too.
_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")


@dataclass
class _Meta:
    """What catalog knows about one table path, valid while the path's
    ``table_stamp`` is ``stamp``.  Threads that race to fill a slot each
    compute the same value, so no lock guards it."""

    stamp: str
    schemas: dict = field(default_factory=dict)  # _SCHEMA_CONFS values -> StructType
    parts: dict = field(default_factory=dict)  # split key -> planned scan splits
    rows: int | None = None
    divisor: int | None = None  # events: long-ts divisor to ms


_META: dict[str, _Meta] = {}


def _meta(path: str) -> _Meta:
    stamp = table_stamp(path)
    m = _META.get(path)
    if m is None or m.stamp != stamp:
        m = _META[path] = _Meta(stamp)
    return m


def _conf_key(spark: SparkSession, keys: tuple) -> tuple | None:
    """The session's values of ``keys``; None when the conf cannot be read,
    and the caller then computes uncached rather than under a key every
    session would share."""
    try:
        return tuple(spark.conf.get(k) for k in keys)
    except Exception:
        return None


def scan(spark: SparkSession, sf_dir: str, name: str, stream=None) -> DataFrame:
    """The lazy parquet read of one table, ``events.ts`` normalized: UTC and
    ``nanosAsLong`` conf, the epoch-unit divisor, ``events_ts_ms``.  Given
    ``stream`` (table schema -> streaming DataFrame over the same rows), the
    stream gets that same recipe, so batch and stream differ only in the
    source.  The schema comes from the table's entry; a miss infers it
    with the read itself."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    m = _meta(path)
    key = _conf_key(spark, _SCHEMA_CONFS)
    schema = m.schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
        if key is not None:
            m.schemas[key] = schema
    elif stream is None:
        df = spark.read.schema(schema).parquet(path)
    if stream is not None:
        df = stream(schema)
    if name == "events":
        if m.divisor is None:
            m.divisor = events_long_ts_divisor(path)
        df = events_ts_ms(df, long_divisor=m.divisor)
    return df


def scan_parts(spark: SparkSession, sf_dir: str, name: str) -> int:
    """The partition count the planner gives the table's scan, from the
    table's entry.  It depends on the layout and on the session's split
    confs and parallelism, which key it; a miss plans the scan
    (``df.rdd``)."""
    m = _meta(f"{sf_dir}/{name}.parquet")
    key = _conf_key(spark, _SPLIT_CONFS)
    if key is not None:
        key += (spark.sparkContext.defaultParallelism,)
    n = m.parts.get(key)
    if n is None:
        n = scan(spark, sf_dir, name).rdd.getNumPartitions()
        if key is not None:
            m.parts[key] = n
    return n


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    ``events.ts`` is truncated to millisecond precision; oracle SQL mirrors
    this with ``date_trunc('milliseconds', ts)`` so both engines compare
    equal bits (see ``scan`` and ``events_ts_ms``).

    ``documents`` / ``embeddings`` are spread to session parallelism when
    the scan is under-split (optimization guide §2.5 input skew: the local
    testdata is one single-row-group parquet file per table, so the scan —
    and every tokenizing/hashing map stage above it — would otherwise run
    as ONE task; measured r14: minhash signatures 2.72 s -> 0.64 s on
    local[32], bit-identical output).  On production multi-split inputs
    the spread never fires.

    ``spread=False`` opts a consumer out (VERDICT r14 item 2: queries whose
    scan-side map work is cheap — a bare explode/posexplode straight into
    the first aggregation — pay more for the extra full-payload exchange +
    32-task stage than the single-core map costs; each opt-out call site
    cites its own A/B numbers).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = scan(spark, sf_dir, name)
    key = _SPREAD_KEYS.get(name)
    if key is not None and spread:
        from kafka_spark_streaming_eval_spark.session import spread_small_scan

        df = spread_small_scan(df, key, scan_parts=scan_parts(spark, sf_dir, name))
    return df


def part_files(path: str) -> list[str]:
    """The parquet files of the table at ``path``: the file itself, or every
    ``*.parquet`` file under the directory at any depth (hive partition
    dirs included), sorted, skipping ``_``/``.`` names as Spark does."""
    import os

    if not os.path.isdir(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        found += [f"{root}/{f}" for f in files if f.endswith(".parquet")
                  and not f.startswith(("_", "."))]
    return sorted(found)


def table_stamp(path: str) -> str:
    """Cache key for the table at ``path``: the path plus the name,
    ``st_mtime_ns`` and ``st_size`` of each of its ``part_files``.  A
    directory's own stat misses a part file rewritten in place (its mtime
    moves only when entries are added or removed), nested ones included."""
    import os

    stats = [(p, os.stat(p)) for p in part_files(path)]
    return "|".join([path] + [f"{p}:{s.st_mtime_ns}:{s.st_size}" for p, s in stats])


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of a testdata table from its part files' parquet footers
    (no scan), whatever the layout; kept in the table's entry."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    m = _meta(path)
    if m.rows is None:
        m.rows = sum(pq.ParquetFile(part).metadata.num_rows for part in part_files(path))
    return m.rows


def write_part(t, dest: str, like: str) -> None:
    """Write pyarrow table ``t`` (rows of the table at ``like``) as a parquet
    file that scans with that table's schema: Spark's default INT96
    timestamps stay INT96, not TIMESTAMP(NANOS), a long under nanosAsLong."""
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(part_files(like)[0]).schema
    int96 = any(c.physical_type == "INT96" for c in schema)
    pq.write_table(t, dest, use_deprecated_int96_timestamps=int96)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for the SQL API)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
