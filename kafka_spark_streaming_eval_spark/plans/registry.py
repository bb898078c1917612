"""Query registry — the engine's declared query surface.

Every operator from SURVEY.md §2 (reference parity + north-star extensions)
is registered here as a named query: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus an equivalent DuckDB oracle SQL string.
``__spark_entry__.py`` exposes this registry to the driver, which runs both
sides at sf=0.01 and compares row count + schema + order-insensitive value
hash.

Determinism contract (so Spark and DuckDB hash-match bit-for-bit):

- Double sums are order-sensitive; any SUM over a double column goes through
  a DECIMAL cast (exact, order-independent) and back to double — helpers in
  ``functions.numeric``.  Averages are exact-sum / count, divided as doubles.
- Timestamps leave the query as ``unix_millis`` bigints or DATEs where
  possible; the session timezone is pinned to UTC (session.prep).
- Every computed column is aliased identically in the Spark code and the
  oracle SQL.
- Ordering never matters (the driver hash is order-insensitive), but ranked
  outputs carry explicit deterministic tie-breakers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str  # DuckDB SQL over the pre-registered table views
    category: str
    doc: str = field(default="")


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, category: str, oracle: str):
    """Decorator: register a query under ``name`` with its DuckDB ``oracle``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, category, fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Name -> spec for every registered query (imports operator modules),
    in registration order."""
    _load_all()
    return dict(_REGISTRY)


def _load_all() -> None:
    # Import for side effect: each module registers its queries on import.
    from kafka_spark_streaming_eval_spark.operators import (  # noqa: F401
        dedup,
        etl,
        graph,
        metrics,
        multimodal,
        pipeline,
        quality,
        relational,
        similarity,
        text,
        tpch,
    )
    from kafka_spark_streaming_eval_spark.functions import udfs  # noqa: F401
    from kafka_spark_streaming_eval_spark.sources import readers  # noqa: F401
    from kafka_spark_streaming_eval_spark.streaming import queries, stateful  # noqa: F401
    # import order is registration order: these later additions register last
    from kafka_spark_streaming_eval_spark.operators import corpus  # noqa: F401
    from kafka_spark_streaming_eval_spark.operators import curation  # noqa: F401

