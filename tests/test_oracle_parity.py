"""The local mirror of the driver's t2 gate: run every registered query on
Spark AND its DuckDB oracle at the test scale factor, compare exactly."""

from __future__ import annotations

import pytest

from kafka_spark_streaming_eval_spark.plans.registry import all_queries
from tests.conftest import SF_DIR, assert_matches_oracle

SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_oracle_match(name, spark, ducks):
    spec = SPECS[name]
    df = spec.fn(spark, SF_DIR)
    assert_matches_oracle(df, ducks, spec.oracle, name)

