"""The catalog's per-table metadata entry: a warm ``table`` call infers no
schema and plans no scan, the entry follows the table's files (both
``events.ts`` vintages, rewritten in place) and the session confs that
change the inferred schema."""

from __future__ import annotations

import itertools
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafka_spark_streaming_eval_spark import catalog
from kafka_spark_streaming_eval_spark.catalog import TABLES, scan, table
from tests.conftest import SF_DIR

_groups = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs, counted under a job group of
    its own once the listener bus has caught up."""
    sc = spark.sparkContext
    group = f"test_catalog_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_table_launches_no_jobs(spark, tmp_path):
    """Every table, the spread ``documents``/``embeddings`` included, reads
    from its entry once warm: no schema-inference job, no planning job."""
    for name in TABLES:
        table(spark, SF_DIR, name)
    assert _jobs(spark, lambda: [table(spark, SF_DIR, n) for n in TABLES]) == 0
    # The count sees the inference job of a cold path.
    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    assert _jobs(spark, lambda: table(spark, str(tmp_path), "region")) == 1


def test_schema_key_stable_from_first_read(spark, monkeypatch):
    """A fresh ``prep``-ed session already has every schema conf an
    ``events`` read sets: after one sweep with ``events`` last, a second
    sweep infers no schema again."""
    from kafka_spark_streaming_eval_spark.session import prep

    monkeypatch.setattr(catalog, "_META", {})
    fresh = prep(spark.newSession())
    names = [n for n in TABLES if n != "events"] + ["events"]
    for name in names:
        table(fresh, SF_DIR, name)
    assert _jobs(fresh, lambda: [table(fresh, SF_DIR, n) for n in names]) == 0


def _ts_ms(spark, sf_dir):
    rows = table(spark, sf_dir, "events").selectExpr("id", "unix_millis(ts)").collect()
    return sorted(tuple(r) for r in rows)


def test_events_vintages_normalize_and_invalidate(spark, tmp_path):
    """One ``events.parquet`` path written as TIMESTAMP(NANOS) (a long under
    nanosAsLong), then rewritten in place as timestamp[us]: the entry is
    replaced and both reads give the same ms-truncated ``ts``."""
    from pyspark.sql.types import LongType, TimestampNTZType

    ns = [1_754_000_000_123_456_789, 1_754_000_060_987_654_321]
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}), path)
    first = _ts_ms(spark, str(tmp_path))
    assert first == [(1, ns[0] // 1_000_000), (2, ns[1] // 1_000_000)]
    assert [type(s["ts"].dataType) for s in catalog._META[path].schemas.values()] == [LongType]

    stamp = catalog._META[path].stamp
    us = [v // 1000 for v in ns]
    pq.write_table(pa.table({"id": [1, 2], "ts": pa.array(us, pa.timestamp("us"))}), path)
    assert _ts_ms(spark, str(tmp_path)) == first
    entry = catalog._META[path]
    assert entry.stamp != stamp
    assert [type(s["ts"].dataType) for s in entry.schemas.values()] == [TimestampNTZType]


def test_schema_conf_flip_infers_again(spark, tmp_path):
    """The cached schema is keyed on the confs inference reads: flipping
    nanosAsLong on one path infers again (which raises for a NANOS column
    without it) instead of handing back the long schema."""
    from pyspark.errors import AnalysisException

    key = "spark.sql.legacy.parquet.nanosAsLong"
    ns = pa.array([1_754_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ns}), str(tmp_path / "nanos.parquet"))
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert _jobs(spark, lambda: scan(spark, str(tmp_path), "nanos")) == 1
        assert _jobs(spark, lambda: scan(spark, str(tmp_path), "nanos")) == 0
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            scan(spark, str(tmp_path), "nanos")
    finally:
        spark.conf.set(key, prev)
