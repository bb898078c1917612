"""Focused tests for session.spread_small_scan / catalog._SPREAD_KEYS —
the r14 input-skew optimization (guide §2.5: a single-row-group parquet
file scans as ONE task, serializing every map stage above it).

Contract under test:
- the spread fires ONLY when the scan has fewer partitions than the target
  (so on real multi-split inputs it is a no-op);
- it is a KEYED repartition (deterministic placement, no round-robin
  sort-before-repartition) pinned to an explicit partition count;
- results are bit-identical either way (physical change only).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.catalog import table
from kafka_spark_streaming_eval_spark.session import spread_small_scan
from tests.conftest import SF_DIR


def test_spread_fires_on_undersplit_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # the testdata layout premise
    par = spark.sparkContext.defaultParallelism
    spread = spread_small_scan(docs, "doc_id")
    assert spread.rdd.getNumPartitions() == par
    # keyed exchange, not round-robin
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan


def test_spread_noop_when_scan_feeds_parallelism(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    already_wide = docs.repartition(64, "doc_id")
    # explicit parts=64 so the no-op premise holds on any host (ADVICE r14:
    # with defaultParallelism > 64 the spread would fire spuriously)
    out = spread_small_scan(already_wide, "doc_id", parts=64)
    assert out is already_wide  # no extra exchange stacked on top


def test_spread_respects_consumer_opt_out(spark):
    """VERDICT r14 item 3: light-map consumers opt out via
    table(..., spread=False) — the scan must come back un-repartitioned."""
    opted_out = table(spark, SF_DIR, "documents", spread=False)
    assert opted_out.rdd.getNumPartitions() == 1  # raw testdata layout
    default = table(spark, SF_DIR, "documents")
    par = spark.sparkContext.defaultParallelism
    if par > 1:
        assert default.rdd.getNumPartitions() == par


def test_spread_scan_parts_hint_respected(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # caller-provided scan_parts >= target => treated as already-split
    out = spread_small_scan(docs, "doc_id", scan_parts=10_000)
    assert out is docs


def test_catalog_spread_preserves_rows_exactly(spark):
    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    via_catalog = table(spark, SF_DIR, "documents")
    assert via_catalog.exceptAll(raw).count() == 0
    assert raw.exceptAll(via_catalog).count() == 0


def test_minhash_identical_after_spread(spark):
    """The heaviest consumer: signatures over the spread scan must equal
    signatures over the raw 1-partition scan (min is placement-invariant)."""
    from kafka_spark_streaming_eval_spark.operators.dedup import (
        minhash_signatures,
    )

    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = minhash_signatures(raw)
    b = minhash_signatures(raw.repartition(8, "doc_id"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == b.count() > 0


def test_spread_key_columns_survive(spark):
    emb = table(spark, SF_DIR, "embeddings")
    assert emb.where(F.col("vec_id").isNotNull()).count() == emb.count()


def test_warm_table_plans_nothing(spark, monkeypatch):
    """A second ``table`` call on a spread table takes its scan split count
    from the table's catalog entry: no ``df.rdd`` physical plan."""
    table(spark, SF_DIR, "documents")
    cls = type(table(spark, SF_DIR, "documents", spread=False))
    planned = []
    rdd = cls.rdd
    monkeypatch.setattr(cls, "rdd", property(lambda df: planned.append(1) or rdd.__get__(df)))
    table(spark, SF_DIR, "documents")
    assert planned == []


def test_scan_parts_unreadable_conf_is_not_cached(spark, monkeypatch):
    """When the session's split confs cannot be read, the partition count is
    planned for this call only: no entry under a key every session would
    share."""
    from pyspark.sql.conf import RuntimeConfig

    from kafka_spark_streaming_eval_spark import catalog

    get = RuntimeConfig.get

    def unreadable(self, key, *args):
        if key in catalog._SPLIT_CONFS:
            raise RuntimeError("conf unavailable")
        return get(self, key, *args)

    monkeypatch.setattr(RuntimeConfig, "get", unreadable)
    entry = catalog._meta(f"{SF_DIR}/documents.parquet")
    before = dict(entry.parts)
    assert catalog.scan_parts(spark, SF_DIR, "documents") == 1
    assert entry.parts == before
