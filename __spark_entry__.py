"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).  ``queries()`` lists the registry in
registration order.

Everything is backed by the query registry in
``kafka_spark_streaming_eval_spark.plans.registry``: one named entry per
implemented operator from SURVEY.md §2, each with a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_spark_streaming_eval_spark.plans.registry import all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = all_queries()
    return specs["ref_flagship_batch_metrics"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every registered query."""
    return {name: spec.oracle for name, spec in all_queries().items()}
