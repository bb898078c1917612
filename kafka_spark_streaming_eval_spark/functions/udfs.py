"""UDF extension surface (SURVEY.md §2.b, last row): one row-at-a-time
Python UDF, one Arrow-vectorized pandas UDF, one grouped ``applyInPandas``,
and one Python UDTF — each as an oracle-checked registry query.

These exist to prove the engine's user-extension points, NOT as the way to
compute these results: every example here is deliberately also expressible
in pure SQL (that is what makes the DuckDB oracle possible).  Production
guidance stays "built-ins first" — a Python UDF serializes every row through
the Py4J/worker boundary (~10-100x slower than codegen), a pandas UDF moves
Arrow record batches (vectorized, the acceptable Python path), and
``applyInPandas`` shuffles each group to one Python worker (watch group
cardinality/skew at 100 TB: one giant group = one stuck worker).

Every Python kernel is defined INSIDE its query function: cloudpickle then
serializes it by value, so executors never need this package importable on
their own PYTHONPATH — the deployment-safe shape for a library whose driver
may run from anywhere (the grading driver imports us by file path).  The
UDF objects are likewise built lazily because DDL return-type strings parse
against the active session.

Determinism notes: the Python/pandas examples use exact integer math
(Knuth multiplicative hash) or IEEE-double ops with no reduction reordering
(min/max are order-independent selections), so results hash-match the oracle
bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from kafka_spark_streaming_eval_spark.catalog import table, table_rows
from kafka_spark_streaming_eval_spark.operators.metrics import _EV
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import prep


# ---------------------------------------------------------------------------
# 1. Row-at-a-time Python UDF (the slow path, shown once)
# ---------------------------------------------------------------------------


@register(
    "udf_python_vowels",
    "udf-surface",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[aeiou]')) AS n_vowels,
           length(text) AS n_chars_check
    FROM documents
    """,
)
def udf_python_vowels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF: per-document vowel count.  Each row crosses
    the JVM->Python worker boundary individually — the example documents WHY
    built-ins win (the oracle's regexp does the same work codegen'd)."""

    def vowel_count_py(s):
        if s is None:
            return None
        return sum(1 for ch in s if ch in "aeiou")

    d = table(prep(spark), sf_dir, "documents")
    vowel_count = udf(vowel_count_py, "long")
    return d.select(
        "doc_id",
        vowel_count("text").alias("n_vowels"),
        F.length("text").alias("n_chars_check"),
    )


# ---------------------------------------------------------------------------
# 2. Arrow-vectorized pandas UDF (the acceptable Python path)
# ---------------------------------------------------------------------------


@register(
    "udf_pandas_knuth_hash",
    "udf-surface",
    oracle="""
    SELECT user_id,
           (user_id * 2654435761) % 4294967296 AS bucket_hash,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def udf_pandas_knuth_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF: Knuth multiplicative bucket hash per user.
    Arrow moves whole column batches to one Python call; exact uint64
    integer math makes the oracle comparison bit-exact."""

    def knuth_hash_pd(uid):
        return ((uid.astype("uint64") * 2654435761) % 4294967296).astype("int64")

    ev = table(prep(spark), sf_dir, "events")
    knuth_hash = pandas_udf(knuth_hash_pd, "long")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return per_user.select(
        "user_id", knuth_hash("user_id").alias("bucket_hash"), "n_events"
    )


# ---------------------------------------------------------------------------
# 3. Grouped applyInPandas (split-apply-combine with a Python kernel)
# ---------------------------------------------------------------------------


@register(
    "udf_applyinpandas_minmax",
    "udf-surface",
    oracle="""
    SELECT event_id, event_type, value,
           (value - min(value) OVER (PARTITION BY event_type))
           / (max(value) OVER (PARTITION BY event_type)
              - min(value) OVER (PARTITION BY event_type)) AS value_scaled
    FROM events
    """,
)
def udf_applyinpandas_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInPandas``: per-event-type min-max scaling with a pandas kernel.
    min/max are order-independent selections and the subtraction/division are
    elementwise IEEE ops on identical inputs — bit-identical to the oracle's
    window expression.  Each group is shuffled to one Python worker — fine
    for bounded group counts like event_type (4 groups); at 100 TB the same
    result should come from the oracle's window-function form (no Python, no
    whole-group materialization), which is exactly what the oracle shows."""

    def minmax_scale(pdf):
        lo, hi = pdf["value"].min(), pdf["value"].max()
        out = pdf[["event_id", "event_type", "value"]].copy()
        out["value_scaled"] = (pdf["value"] - lo) / (hi - lo) if hi > lo else 0.0
        return out

    ev = table(prep(spark), sf_dir, "events")
    return ev.select("event_id", "event_type", "value").groupBy("event_type").applyInPandas(
        minmax_scale,
        schema="event_id long, event_type string, value double, value_scaled double",
    )


# ---------------------------------------------------------------------------
# 4. Python UDTF (one row in, many rows out, lateral-joined)
# ---------------------------------------------------------------------------


@register(
    "udtf_split_sentences",
    "udf-surface",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, '. ')) AS sentence,
           generate_subscripts(string_split(text, '. '), 1) - 1 AS sentence_idx
    FROM documents
    """,
)
def udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF lateral-joined against ``documents``: one row per sentence
    with its index — the table-function extension point (SQL `, LATERAL
    split_sentences(text)`).  The oracle's unnest shows the built-in
    equivalent; a UDTF earns its cost only when the expansion logic is
    genuinely procedural."""

    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                yield s, i

    spark = prep(spark)
    split_sentences = udtf(SplitSentences, returnType="sentence: string, sentence_idx: int")
    spark.udtf.register("split_sentences", split_sentences)
    table(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence, s.sentence_idx
        FROM udtf_docs d, LATERAL split_sentences(d.text) s
        """
    )


@register(
    "udf_cogroup_merge_asof",
    "udf",
    oracle=f"""
    WITH ev AS (SELECT * FROM {_EV} t),
    clicks AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS value
      FROM ev WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purch AS (
      SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
      FROM ev WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts_ms AS purchase_ms,
           c.ts_ms AS last_click_ms, c.value AS last_click_value
    FROM purch p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
    """,
)
def udf_cogroup_merge_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas``: two tables grouped on the same key are
    cogrouped and handed to a pandas kernel — here pd.merge_asof attaching
    each purchase to the user's most recent preceding (or simultaneous)
    click.  This is the two-table as-of join the pure-window form
    (join_asof_prev_error) can't express, and the cogroup API's canonical
    use.  Clicks are pre-deduplicated per (user, ts) so the as-of pick is
    well-defined under timestamp ties; timestamps cross the Python boundary
    as int64 ms (no tz ambiguity).

    The cogroup key is a BUCKET of users (``user_id % nb``), not the raw
    user_id, and the kernel resolves per-user as-of inside the bucket with
    ``merge_asof(..., by="user_id")`` (guide §4: amortize the per-group
    Arrow/Python round trip).  Measured r15 at sf0.1: per-user cogroup paid
    ~2 ms of pure machinery per group x 1500 users — a trivial kernel
    already cost 3.3 s and the full query 5.3 s; bucketed it is 0.68 s
    (7.8x) with bit-identical output.  Bucket count scales with input rows
    (~50k rows/bucket, floor = parallelism) so a bucket's frames stay
    memory-bounded at any scale while small inputs still fan out."""
    ev = table(prep(spark), sf_dir, "events").withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    nb = max(
        spark.sparkContext.defaultParallelism,
        table_rows(sf_dir, "events") // 50_000 + 1,
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts_ms")
        .agg(F.max("value").alias("value"))
        .withColumn("bkt", F.pmod("user_id", F.lit(nb)))
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms", F.pmod("user_id", F.lit(nb)).alias("bkt")
    )

    def merge_asof_kernel(purchases: pd.DataFrame, clicks_pdf: pd.DataFrame):
        # Column-pruning tolerance: when no output column is needed (e.g.
        # a bare count()), Catalyst prunes the cogroup inputs down to the
        # grouping key — the kernel then only has to preserve row counts.
        # Inputs are only ever pruned when the dependent outputs are too.
        cols = ["event_id", "user_id", "purchase_ms", "last_click_ms", "last_click_value"]
        full_inputs = {"ts_ms", "user_id"} <= set(purchases.columns) and {
            "ts_ms",
            "value",
            "user_id",
        } <= set(clicks_pdf.columns)
        if full_inputs:
            # merge_asof requires both sides sorted on the as-of key
            # (ties broken per user by the `by` grouping).
            p = purchases.sort_values("ts_ms", kind="stable")
            if clicks_pdf.empty:
                out = p.assign(last_click_ms=pd.NA, last_click_value=pd.NA)
            else:
                c = (
                    clicks_pdf[["user_id", "ts_ms", "value"]]
                    .sort_values("ts_ms", kind="stable")
                    .rename(
                        columns={"ts_ms": "last_click_ms", "value": "last_click_value"}
                    )
                )
                out = pd.merge_asof(
                    p, c, left_on="ts_ms", right_on="last_click_ms",
                    by="user_id", direction="backward",
                )
            out = out.rename(columns={"ts_ms": "purchase_ms"})
        else:
            out = purchases.copy()
        for col in cols:
            if col not in out.columns:
                out[col] = pd.NA
        return out[cols]

    return (
        purch.groupBy("bkt")
        .cogroup(clicks.groupBy("bkt"))
        .applyInPandas(
            lambda left, right: merge_asof_kernel(
                left.drop(columns=["bkt"], errors="ignore"),
                right.drop(columns=["bkt"], errors="ignore"),
            ),
            "event_id long, user_id long, purchase_ms long, "
            "last_click_ms long, last_click_value double",
        )
    )


@register(
    "udf_arrow_optimized",
    "udf-surface",
    oracle="""
    SELECT p_partkey, reverse(p_name) AS name_rev, length(p_name) AS name_len
    FROM part
    """,
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (Spark 4 ``useArrow=True``): the
    middle ground between row-at-a-time pickling (``udf_python_vowels``)
    and a hand-written pandas UDF — same scalar-function authoring model,
    but arguments/results cross the JVM boundary as Arrow record batches.
    The kernel is a codepoint-reversal, bit-identical to the oracle's
    ``reverse`` on this ASCII column."""

    def reverse_py(s):
        return None if s is None else s[::-1]

    rev = udf(reverse_py, "string", useArrow=True)
    p = table(prep(spark), sf_dir, "part")
    return p.select(
        "p_partkey",
        rev("p_name").alias("name_rev"),
        F.length("p_name").alias("name_len"),
    )


@register(
    "udf_pandas_grouped_agg",
    "udf-surface",
    oracle="""
    WITH ranked AS (
      SELECT c_nationkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    )
    SELECT c_nationkey,
           round(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6)))
                 FILTER (WHERE rn <= 3) AS DOUBLE), 2) AS top3_sum,
           count(*) AS n_customers
    FROM ranked
    GROUP BY c_nationkey
    """,
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (``Series -> scalar``) — the fourth
    pandas-UDF shape next to scalar, applyInPandas and cogrouped: Spark
    groups rows, ships each group's column as ONE Arrow batch, and the
    Python kernel reduces it to a scalar (here: sum of the top-3 account
    balances, summed largest-first after an exact sort).  The kernel
    rounds to 2 dp so the 3-term double sum is stable against the oracle's
    decimal formulation regardless of addition order.  Plan: one shuffle
    on the group key, kernel cost O(group); the slow-path warning from
    SURVEY §2.b applies — this exists to pin the API, the built-in
    formulation is the ranked-window the oracle uses."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def top3_sum(v: pd.Series) -> float:
        return round(float(v.sort_values(ascending=False).head(3).sum()), 2)

    # pandas grouped aggregates cannot mix with JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a pandas UDF too
    @pandas_udf("long")
    def group_count(v: pd.Series) -> int:
        return int(len(v))

    c = table(prep(spark), sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        top3_sum("c_acctbal").alias("top3_sum"),
        group_count("c_custkey").alias("n_customers"),
    )
