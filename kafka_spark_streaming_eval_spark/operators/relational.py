"""Relational completion layer (SURVEY.md §2.b).

The reference exercises no joins, window ranking, set ops or grouping sets
(SURVEY §2.a "notably absent"); a usable analytics engine needs them.  Every
operator here is built-in Catalyst surface — the physical strategy (broadcast
vs sort-merge join, partial aggregation, AQE skew splitting) is left to the
optimizer, with explicit ``broadcast()`` hints only where a dimension table
is provably small (region/nation/supplier: fixed cardinality at any scale
factor).

Scale notes (100 TB):
- Fact-fact joins (orders x lineitem) are equi-joins on the natural key and
  shuffle-partition on it; with bucketed storage they become shuffle-free.
- Dimension joins are broadcast — no shuffle of the fact side at all.
- Top-k per group is window row_number + filter: one shuffle, no global sort.
- Global top-k is ``orderBy().limit(k)`` which Spark executes as per-partition
  TakeOrdered + driver merge of k rows — no full sort at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.catalog import table
from kafka_spark_streaming_eval_spark.functions.numeric import (
    DEC,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
)
from kafka_spark_streaming_eval_spark.operators.metrics import _EV
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import prep


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prep(spark)
    return table(spark, sf_dir, name)


# The driver's canonicalizer pandas-sorts every output column before hashing
# and raises on array/map cells, so registered queries must emit scalar
# columns only.  These helpers keep the higher-order array/map ops in the
# plan and serialize just the OUTPUT representation, pinned to an identical
# string on both engines: doubles go through DECIMAL(38,6) so Spark and
# DuckDB render the same fixed-point text ("40.000000"), strings join as-is.
def _arrstr_d(col):
    """array<double> -> '|'-joined fixed-point strings (driver-hashable)."""
    return F.array_join(
        F.transform(col, lambda x: x.cast("decimal(38,6)").cast("string")), "|"
    )


def _arrstr_d_sql(expr: str) -> str:
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's array_join is ''
    return (
        f"coalesce(array_to_string(list_transform({expr}, "
        f"x -> CAST(CAST(x AS DECIMAL(38,6)) AS VARCHAR)), '|'), '')"
    )


# ---------------------------------------------------------------------------
# Aggregation over the fact table (TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    "relational",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan-heavy groupBy with 8 aggregates — partial aggregation
    map-side, 2 grouping keys of cardinality ~6; the shipdate filter pushes
    into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc).alias("sum_disc_price"),
        dsum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_star_revenue",
    "relational",
    oracle=f"""
    SELECT r.r_name, year(o.o_orderdate) AS order_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, year(o.o_orderdate)
    """,
)
def join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join: fact-fact equi-join (lineitem x orders, shuffled on
    orderkey) then broadcast joins for customer/nation/region dims — the
    100 TB plan shuffles each fact row exactly once.

    The under-split lineitem scan is spread on the JOIN KEY (r15, q18's
    mechanism): at sf0.1 orders broadcasts on its own (un-spread) estimate,
    so the whole probe + partial agg otherwise runs inside the
    single-row-group scan task.  Unlike r14's rejected catalog-level
    spread, orders' stats stay intact (the 0.93 -> 3.79 s BHJ->SMJ
    demotion came from spreading BOTH facts); interleaved A/B at sf0.1:
    0.95-1.44 s -> 0.86-1.11 s, identical output, no-op on multi-split
    inputs."""
    from kafka_spark_streaming_eval_spark.catalog import scan_parts
    from kafka_spark_streaming_eval_spark.session import spread_small_scan

    li = _t(spark, sf_dir, "lineitem")
    li = spread_small_scan(
        li, "l_orderkey", scan_parts=scan_parts(spark, sf_dir, "lineitem")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("r_name", F.year("o_orderdate").alias("order_year")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "join_left_order_counts",
    "relational",
    oracle=f"""
    SELECT c.c_custkey, c.c_mktsegment,
           count(o.o_orderkey) AS n_orders,
           coalesce({dsum_sql('o.o_totalprice')}, 0.0) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
    )


@register(
    "join_semi_big_spenders",
    "relational",
    oracle="""
    SELECT c.c_nationkey, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    GROUP BY c.c_nationkey
    """,
)
def join_semi_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one big order —
    no row multiplication, the probe side streams."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_anti_dormant",
    "relational",
    oracle="""
    SELECT c.c_nationkey, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def join_anti_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_range_ship_window",
    "relational",
    oracle=f"""
    SELECT year(o.o_orderdate) AS order_year, month(o.o_orderdate) AS order_month,
           count(*) AS n_items,
           {dsum_sql('l.l_extendedprice')} AS shipped_value
    FROM orders o JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1, 2
    """,
)
def join_range_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (interval) join: lineitems shipped within 60 days of
    their order.  The equi key carries the shuffle; the range predicate is
    evaluated post-match, so no O(n*m) blowup at any scale."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        o.join(li, cond)
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("shipped_value"),
        )
    )


@register(
    "join_asof_prev_error",
    "relational",
    oracle=f"""
    SELECT event_id, user_id,
           epoch_ms(ts) AS ts_ms,
           epoch_ms(last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS prev_error_ms
    FROM {_EV}
    """,
)
def join_asof_prev_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) association: for every event, the timestamp of
    the same user's most recent *preceding* 'error' event.  Expressed as a
    conditional last_value window with IGNORE NULLS — one per-user sort, no
    join at all (the Spark-native as-of pattern; pd.merge_asof via
    applyInPandas is only needed when the two sides are different tables)."""
    ev = table(prep(spark), sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_err = F.last(
        F.when(F.col("event_type") == "error", F.col("ts")), ignorenulls=True
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.unix_millis(prev_err).alias("prev_error_ms"),
    )


# ---------------------------------------------------------------------------
# Aggregation extensions
# ---------------------------------------------------------------------------


@register(
    "agg_distinct_users",
    "relational",
    oracle=f"""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT CASE WHEN value > 50 THEN user_id END) AS n_users_high,
           {dsum_sql('value')} AS total_value
    FROM {_EV} GROUP BY event_type
    """,
)
def agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts, plain and filtered, in one aggregation."""
    ev = table(prep(spark), sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(F.col("value") > 50, F.col("user_id"))).alias(
            "n_users_high"
        ),
        dsum("value").alias("total_value"),
    )


@register(
    "agg_approx_distinct",
    "relational",
    oracle=f"""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           count(*) AS n_events,
           TRUE AS approx_within_5pct
    FROM {_EV} GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct (the 100 TB path — constant memory per
    group vs a full distinct shuffle), rsd=0.01.

    The sketch estimate itself is implementation-specific, so the
    hash-checkable contract is its accuracy: the Spark side computes both
    the HLL estimate and the exact distinct in one aggregation and emits
    ``approx_within_5pct``; the oracle asserts that flag is TRUE for every
    group (plus the exact counts), making sketch accuracy part of the
    driver's value hash instead of a rows-only check."""
    ev = table(prep(spark), sf_dir, "events")
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", rsd=0.01)
    return ev.groupBy("event_type").agg(
        exact.alias("n_users_exact"),
        F.count(F.lit(1)).alias("n_events"),
        (F.abs(approx.cast("double") - exact.cast("double")) <= 0.05 * exact.cast("double")).alias(
            "approx_within_5pct"
        ),
    )


@register(
    "agg_rollup_orders",
    "relational",
    oracle=f"""
    SELECT year(o_orderdate) AS order_year, o_orderstatus,
           count(*) AS n_orders, {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
    """,
)
def agg_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (year, status) -> (year) -> grand total."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup(F.year("o_orderdate").alias("order_year"), "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_price")
    )


@register(
    "agg_cube_lineitem",
    "relational",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "agg_grouping_sets",
    "relational",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           count(*) AS n_customers, {dsum_sql('c_acctbal')} AS total_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (segment totals side-by-side with nation
    totals) via the SQL API — same Catalyst Expand operator as rollup/cube."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        f"""
        SELECT c_mktsegment, c_nationkey,
               count(*) AS n_customers, {dsum_sql('c_acctbal')} AS total_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        """
    )


# ---------------------------------------------------------------------------
# Window functions / top-k
# ---------------------------------------------------------------------------


@register(
    "window_rank_trio",
    "relational",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           row_number()  OVER w AS rn,
           rank()        OVER w AS rnk,
           dense_rank()  OVER w AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    QUALIFY rn <= 5
    """,
)
def window_rank_trio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank, top-5 per nation — the scalable top-k
    idiom (per-group heap via window, no global sort)."""
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        _t(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .where(F.col("rn") <= 5)
    )


@register(
    "window_lag_lead",
    "relational",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each customer's order history (generalizes the
    reference's diff() at analyze_recovery.py:12-15)."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@register(
    "window_running_frame",
    "relational",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,4)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,4)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS qty_3row
    FROM lineitem
    """,
)
def window_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + 3-row sliding frame per supplier (explicit rowsBetween
    frames).  Decimal accumulator keeps the running sum order-independent.

    The synthetic lineitem has no unique row key — (l_orderkey, l_linenumber)
    repeats — so the ROWS ordering ends with l_quantity: any rows still tied
    are then interchangeable (same quantity -> every frame sum is invariant
    under their order), which makes the result a well-defined multiset on
    both engines.  Found by the sf0.1 sweep; at sf<=0.01 the collision never
    materialized."""
    base = W.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    qty = F.col("l_quantity").cast("decimal(38,4)")
    return _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(qty).over(base.rowsBetween(W.unboundedPreceding, 0)).cast("double").alias("running_qty"),
        F.sum(qty).over(base.rowsBetween(-2, 0)).cast("double").alias("qty_3row"),
    )


@register(
    "window_distribution",
    "relational",
    oracle="""
    SELECT c_custkey,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over the account-balance distribution
    (deterministic: custkey tie-break means no peer groups)."""
    w = W.orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "topk_global_orders",
    "relational",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_global_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10: TakeOrderedAndProject (per-partition heaps merged on
    the driver) — never a full sort, at any scale."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "topk_parts_per_brand",
    "relational",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice
    FROM part
    QUALIFY row_number() OVER (PARTITION BY p_brand
                               ORDER BY p_retailprice DESC, p_partkey) <= 2
    """,
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 parts by price per brand (per-group top-k, generalizes A6)."""
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        _t(spark, sf_dir, "part")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "setop_intersect_custkeys",
    "relational",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def setop_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers who ordered in both 1995 and 1996."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.year("o_orderdate") == 1995).select("o_custkey")
    b = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    return a.intersect(b)


@register(
    "setop_except_custkeys",
    "relational",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def setop_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): 1995 customers who did not return in 1996."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.year("o_orderdate") == 1995).select("o_custkey")
    b = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    return a.subtract(b)  # EXCEPT (distinct) semantics


@register(
    "distinct_flag_status",
    "relational",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT as an aggregation (hash, partial on the map side)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Scalar function batteries
# ---------------------------------------------------------------------------


@register(
    "scalar_string_battery",
    "relational",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lc,
           upper(p_brand) AS brand_uc,
           length(p_name) AS name_len,
           len(string_split(p_name, ' ')) AS n_tokens,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           concat(p_brand, '#', p_type) AS brand_type,
           substr(p_name, 1, 5) AS name5,
           replace(p_type, ' ', '_') AS type_us,
           contains(p_name, 'an') AS has_an,
           strpos(p_name, 'a') AS first_a,
           reverse(p_brand) AS brand_rev,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           trim(concat(' ', p_name, ' ')) AS name_trim
    FROM part
    """,
)
def scalar_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (§2.b scalar surface), all JVM-codegen'd."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.upper("p_brand").alias("brand_uc"),
        F.length("p_name").alias("name_len"),
        F.size(F.split("p_name", " ")).alias("n_tokens"),
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.col("p_name").contains("an").alias("has_an"),
        F.instr("p_name", "a").alias("first_a"),
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.trim(F.concat(F.lit(" "), "p_name", F.lit(" "))).alias("name_trim"),
    )


@register(
    "scalar_date_battery",
    "relational",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dom,
           quarter(o_orderdate) AS qtr,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           epoch_ms(o_orderdate) AS order_ms
    FROM orders
    """,
)
def scalar_date_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery: extraction, truncation, arithmetic,
    epoch conversion (the reference only ever did epoch arithmetic)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("order_ms"),
    )


@register(
    "scalar_math_battery",
    "relational",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice, 1) AS price_r1,
           abs(o_totalprice - 150000.0) AS dist_150k,
           round(ln(o_totalprice), 6) AS ln_price,
           round(log10(o_totalprice), 6) AS log10_price,
           round(sqrt(o_totalprice), 6) AS sqrt_price,
           round(pow(o_totalprice / 100000.0, 2.0), 6) AS pow2,
           CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           CAST(sign(o_totalprice - 150000.0) AS DOUBLE) AS above_150k,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod7
    FROM orders
    """,
)
def scalar_math_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function battery; transcendentals rounded to 6 dp (libm results
    may differ by 1 ulp across engines — rounding removes the drift)."""
    o = _t(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.round(tp, 1).alias("price_r1"),
        F.abs(tp - 150000.0).alias("dist_150k"),
        F.round(F.log(tp), 6).alias("ln_price"),
        F.round(F.log10(tp), 6).alias("log10_price"),
        F.round(F.sqrt(tp), 6).alias("sqrt_price"),
        F.round(F.pow(tp / 100000.0, 2.0), 6).alias("pow2"),
        F.ceil(tp).alias("price_ceil"),
        F.floor(tp).alias("price_floor"),
        F.signum(tp - 150000.0).alias("above_150k"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod7"),
    )


@register(
    "scalar_conditional_battery",
    "relational",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_band,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
           greatest(c_acctbal, 0.0) AS bal_floor0,
           least(c_acctbal, 1000.0) AS bal_cap1k,
           (c_acctbal > 0 AND c_nationkey < 10) AS pos_low_nation
    FROM customer
    """,
)
def scalar_conditional_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expressions: CASE/when, coalesce, nullif, greatest/least."""
    c = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.when(bal < 0, "debt").when(bal < 5000, "low").otherwise("high").alias("bal_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_masked"
        ),
        F.greatest(bal, F.lit(0.0)).alias("bal_floor0"),
        F.least(bal, F.lit(1000.0)).alias("bal_cap1k"),
        ((bal > 0) & (F.col("c_nationkey") < 10)).alias("pos_low_nation"),
    )


@register(
    "pivot_status_by_year",
    "relational",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
    FROM orders GROUP BY 1
    """,
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with an explicit value list — explicit values
    keep the plan a single pass (no extra distinct-values job)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "order_year",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H classics beyond Q1 (multi-join planning evidence)
# ---------------------------------------------------------------------------


@register(
    "tpch_q3_shipping_priority",
    "relational",
    oracle=f"""
    SELECT l.l_orderkey,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           epoch_ms(o.o_orderdate) AS orderdate_ms,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate_ms, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (testdata lacks o_shippriority; o_orderpriority stands
    in): selective dim filter -> broadcast -> fact-fact join -> agg -> global
    top-10.  The limit executes as per-partition TakeOrdered + k-row driver
    merge — no global sort.  Ties broken by (orderdate, orderkey) so the
    10-row cut is deterministic on both engines."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-03-15")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "orderdate_ms", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    "relational",
    oracle=f"""
    SELECT n.n_name,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-table join with the customer-nation == supplier-nation
    co-location predicate.  Dims (customer, supplier, nation, region)
    broadcast; the only shuffle is lineitem x orders on orderkey + the final
    tiny groupBy(n_name)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Deterministic sampling + exact percentiles (training-pipeline staples)
# ---------------------------------------------------------------------------


@register(
    "sample_deterministic_hash",
    "relational",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/8 sample: keep rows whose md5(key) starts with 0 or 1.
    Unlike ``df.sample`` (seeded per-partition RNG — different rows under any
    repartition), a hash sample is stable across engines, runs, and cluster
    layouts — the reproducibility property a training-data pipeline needs.
    Map-only, no shuffle."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin("0", "1")
    ).select("event_id", "user_id", "event_type")


@register(
    "agg_percentiles_exact",
    "relational",
    oracle="""
    SELECT event_type,
           {arr}
             AS value_quartiles,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """.format(
        arr=_arrstr_d_sql(
            "list_transform(quantile_cont(value, [0.25, 0.5, 0.75, 0.95]),"
            " x -> round(x, 6))"
        )
    ),
)
def agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (sort-based) per group — the ground truth the
    reference's approxQuantile (A2) trades away.  Both engines use linear
    interpolation between order statistics; results rounded to 6 dp, then
    serialized to one fixed-point string per group (the driver's hash only
    accepts scalar cells).  At 100 TB exact percentiles force a per-group
    sort, which is why production stats stay on percentile_approx sketches
    (the ``ref_flagship_batch_metrics`` path)."""
    ev = _t(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)))
    return ev.groupBy("event_type").agg(
        _arrstr_d(F.transform(pct, lambda x: F.round(x, 6))).alias("value_quartiles"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_salted_skew",
    "relational",
    oracle=f"""
    SELECT event_type, count(*) AS n, {dsum_sql('value')} AS total_value
    FROM {_EV} GROUP BY event_type
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — the manual skew-mitigation pattern for
    when one group key dominates (event_type has 4 values; at 100 TB one hot
    key would pin a single reducer).  Stage 1 groups on (key, salt) spreading
    each hot key over 16 reducers; stage 2 merges the 16 partials per key.
    Partial sums stay DECIMAL until the final cast, so the result is
    bit-identical to the unsalted oracle regardless of how rows distribute
    over salts.  (AQE's skewedJoin/partition splitting handles this
    automatically for joins; explicit salting remains the tool for
    aggregations with pathological key skew.)"""
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("pv").cast("double").alias("total_value"),
    )


@register(
    "tpch_q10_returned_items",
    "relational",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           count(*) AS n_returns
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue from returns in one
    quarter.  Both selective predicates (quarter, returnflag) push into the
    parquet scans; customer/nation broadcast; the top-20 is TakeOrdered with
    a custkey tie-break so the cut is deterministic."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_returns"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "join_salted_skew",
    "relational",
    oracle=f"""
    SELECT c_mktsegment, count(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM {_EV} e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted JOIN — the manual remedy when one join key dominates the fact
    side (a celebrity user, a null-ish default key).  The fact side gets a
    random-but-deterministic salt in [0,16); the dimension side replicates
    each row 16× (one per salt) so every (key, salt) pair still matches.
    The shuffle then spreads a hot key over 16 reducers instead of one.
    Replication cost is bounded: 16× the DIMENSION (small), never the fact.
    AQE's skewedJoin splitting does this automatically for sort-merge
    plans; explicit salting remains the portable fallback and also works
    for aggregations.  Result is oracle-identical to the unsalted join."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salts = spark.range(16).select(F.col("id").cast("int").alias("_salt"))
    dim_rep = c.crossJoin(F.broadcast(salts))
    fact = ev.withColumn("_fsalt", F.pmod(F.hash("event_id"), F.lit(16)))
    return (
        fact.join(
            dim_rep,
            (fact.user_id == dim_rep.c_custkey) & (fact._fsalt == dim_rep._salt),
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )


@register(
    "sessionize_events_batch",
    "relational",
    oracle=f"""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM {_EV}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    y AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM x
    ),
    s AS (
      SELECT user_id, sess, count(*) AS n,
             epoch_ms(max(ts)) - epoch_ms(min(ts)) AS dur
      FROM y GROUP BY user_id, sess
    )
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n) AS BIGINT) AS total_events,
           max(n) AS max_session_events,
           CAST(sum(dur) AS BIGINT) AS total_session_ms
    FROM s GROUP BY user_id
    """,
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gaps-and-islands pattern: a session breaks
    after >1 hour of user inactivity.  lag() flags session starts, a
    running sum numbers them, then two aggregations summarize per session
    and per user.  ONE shuffle on user_id serves the lag window, the
    running-sum window, and both groupBys (all partition by user_id —
    Catalyst reuses the partitioning).  This is the batch twin of
    `stream_session_windows` (session_window() in streaming); at 100 TB
    the per-user ordering cost is bounded by each user's own history, not
    the table.  (ts, event_id) ordering is total: event_id is unique."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 3600),
        1,
    ).otherwise(0)
    numbered = ev.select("user_id", "ts", "event_id").withColumn(
        "sess", F.sum(new_s).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    per_sess = numbered.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n"),
        (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias("dur"),
    )
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("total_events"),
        F.max("n").alias("max_session_events"),
        F.sum("dur").alias("total_session_ms"),
    )


@register(
    "sample_stratified_per_class",
    "relational",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE strpos('0123456789abcdef',
                 substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1
          < CASE event_type
              WHEN 'click' THEN 8 WHEN 'view' THEN 4 WHEN 'purchase' THEN 16
              WHEN 'error' THEN 2 ELSE 1 END
    """,
)
def sample_stratified_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling — per-class rates (purchase 100%,
    click 50%, view 25%, error 12.5%, signup 6.25%) via the same
    hash-bucket trick as `sample_deterministic_hash`: a row is kept iff its
    md5 bucket falls under its class's quota, so the sample is stable
    across engines, runs, and partitionings — and upsampling a rare class
    later only ADDS rows (bucket sets are nested).  This is how a training
    pipeline rebalances classes reproducibly at 100 TB: map-only, no
    shuffle, no RNG state."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 1),
        )
        - 1
    )
    quota = (
        F.when(F.col("event_type") == "click", 8)
        .when(F.col("event_type") == "view", 4)
        .when(F.col("event_type") == "purchase", 16)
        .when(F.col("event_type") == "error", 2)
        .otherwise(1)
    )
    return ev.where(bucket < quota).select("event_id", "user_id", "event_type")


@register(
    "agg_time_rollup_hierarchy",
    "relational",
    oracle=f"""
    SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
           count(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM {_EV}
    GROUP BY ROLLUP (year(ts), month(ts), day(ts))
    """,
)
def agg_time_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: day -> month -> year -> grand
    total in ONE pass (4 grouping sets share the scan and the partial
    aggregation).  This is the batch form of a continuous aggregate: at
    100 TB with time-partitioned storage each day's partial is computed
    from its own partition and the coarser levels merge partials — the
    incremental-refresh pattern, no full rescan per level."""
    ev = _t(spark, sf_dir, "events")
    return ev.rollup(
        F.year("ts").alias("y"), F.month("ts").alias("m"), F.dayofmonth("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))


@register(
    "profile_table_stats",
    "relational",
    oracle="""
    SELECT 'o_totalprice' AS col, count(*) AS n_rows,
           count(o_totalprice) AS n_nonnull,
           count(DISTINCT o_totalprice) AS n_distinct,
           round(min(o_totalprice), 6) AS min_val,
           round(max(o_totalprice), 6) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey),
           count(DISTINCT o_custkey),
           round(min(o_custkey), 6), round(max(o_custkey), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus),
           count(DISTINCT o_orderstatus), NULL, NULL
    FROM orders
    """,
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling — the first step of any training-data pipeline: per-
    column row/non-null/distinct counts and numeric ranges.  All columns
    profile in ONE scan (a single multi-aggregate pass, unpivoted to rows
    afterwards); the oracle's UNION ALL form would scan once per column —
    at 100 TB the single-scan shape is the difference between one pass and
    k passes over the table.  Exact distinct counts here; the
    `agg_approx_distinct` sketch path is the sub-1%-error alternative when
    k columns x billions of rows make exact infeasible."""
    o = _t(spark, sf_dir, "orders")
    prof = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("tp_nonnull"),
        F.count_distinct("o_totalprice").alias("tp_distinct"),
        F.round(F.min("o_totalprice"), 6).alias("tp_min"),
        F.round(F.max("o_totalprice"), 6).alias("tp_max"),
        F.count("o_custkey").alias("ck_nonnull"),
        F.count_distinct("o_custkey").alias("ck_distinct"),
        F.round(F.min("o_custkey").cast("double"), 6).alias("ck_min"),
        F.round(F.max("o_custkey").cast("double"), 6).alias("ck_max"),
        F.count("o_orderstatus").alias("st_nonnull"),
        F.count_distinct("o_orderstatus").alias("st_distinct"),
    )
    row = F.explode(
        F.array(
            F.struct(
                F.lit("o_totalprice").alias("col"),
                F.col("n_rows").alias("n_rows"),
                F.col("tp_nonnull").alias("n_nonnull"),
                F.col("tp_distinct").alias("n_distinct"),
                F.col("tp_min").alias("min_val"),
                F.col("tp_max").alias("max_val"),
            ),
            F.struct(
                F.lit("o_custkey").alias("col"),
                F.col("n_rows").alias("n_rows"),
                F.col("ck_nonnull").alias("n_nonnull"),
                F.col("ck_distinct").alias("n_distinct"),
                F.col("ck_min").alias("min_val"),
                F.col("ck_max").alias("max_val"),
            ),
            F.struct(
                F.lit("o_orderstatus").alias("col"),
                F.col("n_rows").alias("n_rows"),
                F.col("st_nonnull").alias("n_nonnull"),
                F.col("st_distinct").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_val"),
                F.lit(None).cast("double").alias("max_val"),
            ),
        )
    )
    return prof.select(row.alias("r")).select("r.*")


@register(
    "unpivot_daily_metrics",
    "relational",
    oracle=f"""
    WITH wide AS (
      SELECT epoch_ms(date_trunc('day', ts)) AS day_ms,
             CAST(count(*) AS DOUBLE) AS n_events,
             {dsum_sql('value')} AS total_value,
             CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users
      FROM {_EV} GROUP BY 1
    )
    SELECT day_ms, metric, round(val, 6) AS val
    FROM wide
    UNPIVOT (val FOR metric IN (n_events, total_value, n_users))
    """,
)
def unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-day metrics -> long (day, metric, value)
    rows, the inverse of `pivot_status_by_year`.  The melt itself is a
    zero-shuffle Expand node — rows multiply by the metric count without
    any exchange, so at 100 TB the cost is the one groupBy producing the
    wide table; long-form output then feeds metric stores that want
    (series, ts, value) rows."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy(
        F.unix_millis(F.date_trunc("day", "ts")).alias("day_ms")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        dsum("value").alias("total_value"),
        F.count_distinct("user_id").cast("double").alias("n_users"),
    )
    return wide.unpivot(
        "day_ms", ["n_events", "total_value", "n_users"], "metric", "_v"
    ).select("day_ms", "metric", F.round("_v", 6).alias("val"))


@register(
    "scalar_array_battery",
    "relational",
    oracle="""
    WITH arrs AS (
      SELECT l_orderkey,
             list_sort(list(l_quantity ORDER BY l_linenumber, l_quantity)) AS q
      FROM lineitem
      WHERE l_orderkey < 200
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(q) AS n,
           q[1] AS q_min,
           q[-1] AS q_max,
           len(list_distinct(q)) AS n_distinct,
           list_contains(q, 1.0) AS has_one,
           {big} AS big_quantities,
           CAST(round(list_reduce(list_transform(q, x -> CAST(x AS DECIMAL(38,6))),
                                  (a, b) -> a + b), 6) AS DOUBLE) AS q_sum,
           {dbl} AS doubled
    FROM arrs
    """.format(
        big=_arrstr_d_sql("list_sort(list_filter(q, x -> x >= 25))"),
        dbl=_arrstr_d_sql("list_sort(list_transform(q, x -> x * 2))"),
    ),
)
def scalar_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery over per-order quantity vectors: size, index
    access, distinct, membership, filter, fold (exact decimal sum), and
    element-wise transform — the higher-order-function surface that keeps
    list manipulation JVM-side (whole-stage codegen) instead of in Python
    UDFs.  Arrays are built with sort_array(collect_list) so contents are
    deterministic under any shuffle order; array-valued outputs are
    serialized to '|'-joined fixed-point strings because the driver's
    canonicalizer only hashes scalar cells."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    arrs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_quantity")).alias("q")
    )
    dec_sum = F.aggregate(
        F.transform("q", lambda x: x.cast("decimal(38,6)")),
        F.lit(0).cast("decimal(38,6)"),
        lambda a, b: a + b,
    )
    return arrs.select(
        "l_orderkey",
        F.size("q").alias("n"),
        F.element_at("q", 1).alias("q_min"),
        F.element_at("q", -1).alias("q_max"),
        F.size(F.array_distinct("q")).alias("n_distinct"),
        F.array_contains("q", 1.0).alias("has_one"),
        _arrstr_d(F.array_sort(F.filter("q", lambda x: x >= 25))).alias(
            "big_quantities"
        ),
        # double, not decimal: pandas fetches decimals as Decimal objects
        # whose string form ('40.000000') differs from the oracle's float
        # ('40.0') under a dtype-sensitive value hash
        F.round(dec_sum, 6).cast("double").alias("q_sum"),
        _arrstr_d(F.array_sort(F.transform("q", lambda x: x * 2))).alias("doubled"),
    )


@register(
    "window_ntile_battery",
    "relational",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           ntile(4) OVER w AS quartile,
           first_value(bal_pos IGNORE NULLS) OVER w AS first_pos,
           last_value(bal_pos IGNORE NULLS) OVER wf AS last_pos,
           nth_value(bal_pos, 3 IGNORE NULLS) OVER wf AS third_pos
    FROM (
      SELECT *, CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS bal_pos
      FROM customer
    )
    WINDOW
      w  AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
      wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_ntile_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second window battery: ntile bucketing plus the value-positional
    functions (first/last/nth) with IGNORE NULLS semantics — negative
    balances are nulled so the null-skipping path actually skips.  The
    ordering key includes the unique c_custkey tie-breaker: ntile assigns
    by row position, so a non-total order would be nondeterministic across
    engines (and across Spark runs).  One shuffle on the partition key;
    both frames reuse the same sort."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_pos", F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal"))
    )
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.first("bal_pos", ignorenulls=True).over(w).alias("first_pos"),
        F.last("bal_pos", ignorenulls=True).over(wf).alias("last_pos"),
        F.nth_value("bal_pos", 3, ignoreNulls=True).over(wf).alias("third_pos"),
    )


@register(
    "scalar_map_battery",
    "relational",
    oracle="""
    WITH cnts AS (
      SELECT user_id % 100 AS bucket, event_type, count(*) AS cnt
      FROM events
      GROUP BY 1, 2
    )
    SELECT bucket,
           count(*) AS n_types,
           coalesce(max(CASE WHEN event_type = 'click' THEN cnt END), 0) AS clicks,
           coalesce(array_to_string(list_sort(list(event_type)), '|'), '') AS types,
           CAST(sum(cnt) AS BIGINT) AS total,
           coalesce(array_to_string(list_sort(list(event_type) FILTER (WHERE cnt >= 10)), '|'), '') AS big_types,
           2 * max(CASE WHEN event_type = 'click' THEN cnt END) AS clicks_doubled
    FROM cnts
    GROUP BY bucket
    """,
)
def scalar_map_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type battery: per-user-bucket event-type histograms held as a
    map<string,long> column, then interrogated with the built-in map
    functions — size, element_at lookup, map_keys, a fold over map_values,
    map_filter, and transform_values.  Everything stays JVM-side (no UDF);
    map entries are built from a sort_array'd collect_list so key order is
    deterministic.  The oracle computes identical answers relationally —
    maps are an engine-side representation, not a semantic extension."""
    ev = _t(spark, sf_dir, "events")
    cnts = ev.groupBy(
        (F.col("user_id") % 100).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    maps = cnts.groupBy("bucket").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return maps.select(
        "bucket",
        F.size("m").cast("long").alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0)).alias("clicks"),
        F.array_join(F.map_keys("m"), "|").alias("types"),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("total"),
        F.array_join(
            F.array_sort(F.map_keys(F.map_filter("m", lambda k, v: v >= 10))), "|"
        ).alias("big_types"),
        F.element_at(
            F.transform_values("m", lambda k, v: v * 2), F.lit("click")
        ).alias("clicks_doubled"),
    )


@register(
    "agg_hll_partitioned_merge",
    "relational",
    oracle=f"""
    SELECT count(DISTINCT user_id) AS exact_users,
           TRUE AS merged_within_5pct
    FROM {_EV}
    """,
)
def agg_hll_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting — THE pattern for 100 TB distinct
    counts: each shard builds a fixed-size HLL sketch (here: 32 shards of
    the events table), sketches merge associatively into one, and the
    estimate reads off the merged sketch.  No shuffle of raw values ever
    happens — only kilobyte sketches move, and the same sketches could be
    stored per-partition and re-merged incrementally as data arrives.

    The DataSketches estimate itself is implementation-specific, so the
    hash-checked contract is its accuracy: the output carries the exact
    count and a ``merged_within_5pct`` flag that the oracle asserts TRUE —
    the sharded-merge path must land within 5% of exact (also asserted
    with the raw estimate in `tests/test_properties.py`)."""
    ev = _t(spark, sf_dir, "events")
    sketches = ev.groupBy(F.pmod(F.col("user_id"), F.lit(32)).alias("shard")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact_users"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "exact_users",
        (
            F.abs(F.col("approx_users").cast("double") - F.col("exact_users").cast("double"))
            <= 0.05 * F.col("exact_users").cast("double")
        ).alias("merged_within_5pct"),
    )


@register(
    "timeseries_gapfill_daily",
    "relational",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             count(*) AS n,
             {dsum_sql('value')} AS tv
      FROM {_EV} GROUP BY 1
    ),
    days AS (
      SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
      FROM daily
    )
    SELECT epoch_ms(d.day) AS day_ms,
           coalesce(n, 0) AS n_events,
           coalesce(tv, CAST(0.0 AS DOUBLE)) AS total_value,
           last_value(round(tv / n, 6) IGNORE NULLS)
             OVER (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS locf_avg_value
    FROM days d LEFT JOIN daily USING (day)
    """,
)
def timeseries_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: the calendar spine is generated with
    ``sequence()`` + ``explode`` between the observed min/max day, left-
    joined against the daily aggregate; absent days fill with zero counts
    and the daily average carries forward (LOCF) via a last-value IGNORE
    NULLS window.  The spine is bounded by the calendar, not the data —
    at 100 TB of events the fact side still reduces to one row per day
    BEFORE the join, and the single-partition window runs over ~10^3 rows
    regardless of SF.  Training pipelines use this exact shape to densify
    feature time-series before windowed models."""
    ev = table(prep(spark), sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("tv")
    )
    spine = daily.agg(
        F.explode(
            F.sequence(F.min("day"), F.max("day"), F.expr("interval 1 day"))
        ).alias("day")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        spine.join(daily, "day", "left")
        .select(
            F.unix_millis("day").alias("day_ms"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("tv", F.lit(0.0)).alias("total_value"),
            F.last(F.round(F.col("tv") / F.col("n"), 6), ignorenulls=True)
            .over(w)
            .alias("locf_avg_value"),
        )
    )


@register(
    "agg_corr_deterministic",
    "relational",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             {dsum_sql('l_quantity')} AS sx,
             {dsum_sql('l_extendedprice')} AS sy,
             {dsum_sql('l_quantity * l_extendedprice')} AS sxy,
             {dsum_sql('l_quantity * l_quantity')} AS sxx,
             {dsum_sql('l_extendedprice * l_extendedprice')} AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
           round((sxy - sx * sy / n) / (n - 1), 6) AS covar_samp_qty_price,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_price_per_qty
    FROM s
    """,
)
def agg_corr_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (Pearson correlation, sample covariance,
    regression slope) computed from decimal-exact moment sums instead of
    the built-in `corr`/`covar_samp`/`regr_slope` — the builtins use
    streaming merge formulas whose float error depends on partition order,
    so they can't hash-match across engines.  Moments are one aggregation
    pass (products of two 2dp columns are <=4dp: the DECIMAL(38,6) cast is
    exact); the closed-form combination is identical double arithmetic on
    both engines.  Same single-shuffle cost as the builtin at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q).alias("sx"),
        dsum(p).alias("sy"),
        dsum(q * p).alias("sxy"),
        dsum(q * q).alias("sxx"),
        dsum(p * p).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("corr_qty_price"),
        F.round((sxy - sx * sy / n) / (n - 1), 6).alias("covar_samp_qty_price"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias(
            "slope_price_per_qty"
        ),
    )


@register(
    "join_full_outer_reconcile",
    "relational",
    oracle=f"""
    WITH a AS (
      SELECT o_custkey, {dsum_sql('o_totalprice')} AS spend_1995
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey
    ),
    b AS (
      SELECT o_custkey, {dsum_sql('o_totalprice')} AS spend_1996
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
    )
    SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
           coalesce(spend_1995, 0.0) AS spend_1995,
           coalesce(spend_1996, 0.0) AS spend_1996,
           (a.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL) AS active_both
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    """,
)
def join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — the reconciliation shape (completes SURVEY §2.b's
    inner/left/right/full list; right is the mirror of left).  Two
    period aggregates are aligned on customer; customers present in only
    one period survive with the other side nulled, then coalesced.  Both
    sides are pre-aggregated BEFORE the join, so the full-outer matches
    one row against one row — at 100 TB this is the difference between
    joining two ~customer-count tables and a fact-fact row explosion.
    Aggregation and join share the o_custkey hash partitioning, so AQE
    collapses them into adjacent stages of one shuffle lineage."""
    o = _t(spark, sf_dir, "orders")

    def spend(year: int, alias: str) -> DataFrame:
        return (
            o.where(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(dsum("o_totalprice").alias(alias))
        )

    a, b = spend(1995, "spend_1995"), spend(1996, "spend_1996")
    return a.join(b, "o_custkey", "full").select(
        F.col("o_custkey").alias("custkey"),
        F.coalesce("spend_1995", F.lit(0.0)).alias("spend_1995"),
        F.coalesce("spend_1996", F.lit(0.0)).alias("spend_1996"),
        (F.col("spend_1995").isNotNull() & F.col("spend_1996").isNotNull()).alias(
            "active_both"
        ),
    )


@register(
    "setop_intersect_all_suppliers",
    "relational",
    oracle="""
    SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1995
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1996
    """,
)
def setop_intersect_all_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset semantics: each supplier key survives
    min(count_1995, count_1996) times, preserving shipment-volume weight
    that the DISTINCT variant (setop_intersect_custkeys) deliberately
    drops.  Spark plans this as one aggregate per side computing
    per-key counts plus a join — no row-by-row matching, so it scales as
    an ordinary groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.year("l_shipdate") == 1995).select("l_suppkey")
    b = li.where(F.year("l_shipdate") == 1996).select("l_suppkey")
    return a.intersectAll(b)


@register(
    "setop_except_all_suppliers",
    "relational",
    oracle="""
    SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1995
    EXCEPT ALL
    SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1996
    """,
)
def setop_except_all_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference: suppliers keep
    max(count_1995 − count_1996, 0) copies, i.e. the shipment volume LOST
    year-over-year rather than just membership."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.year("l_shipdate") == 1995).select("l_suppkey")
    b = li.where(F.year("l_shipdate") == 1996).select("l_suppkey")
    return a.exceptAll(b)


@register(
    "window_range_frame_trailing",
    "relational",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           date_diff('day', DATE '1970-01-01', o_orderdate) AS day_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_30d_spend
    FROM orders
    """,
)
def window_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, vs the ROWS frames in
    window_running_frame): per customer, the trailing-30-day spend at each
    order.  The frame is bounded by the ORDER BY *value* (epoch-day), so
    same-day orders always share a frame and the result is deterministic
    WITHOUT a unique tie-breaker — the property ROWS frames lack.  The
    decimal cast keeps the windowed sum order-independent.  One shuffle on
    o_custkey; at 100 TB this is the standard continuous-metric shape
    (trailing revenue, rolling exposure) and needs no self-join."""
    o = _t(spark, sf_dir, "orders")
    day_n = F.unix_date(F.col("o_orderdate").cast("date"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day_n)
        .rangeBetween(-30, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        day_n.alias("day_n"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias(
            "trailing_30d_spend"
        ),
    )


@register(
    "join_right_order_recency",
    "relational",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           epoch_ms(max(o.o_orderdate)) AS last_order_ms,
           count(o.o_orderkey) AS n_orders
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def join_right_order_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (completes the inner/left/right/full quartet):
    order recency per customer with never-ordered customers preserved as
    nulls.  Semantically the mirror of join_left_order_counts; written as
    RIGHT so the plan path (build side = the preserved side) is exercised
    too."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            # unix_millis bigint, per the registry determinism contract —
            # raw timestamps fetch at different pandas precisions (ns vs us)
            # across engines
            F.unix_millis(F.max("o_orderdate").cast("timestamp")).alias("last_order_ms"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


# Triangle-spike query pattern for the subsequence search (1dp literals —
# every arithmetic step below stays decimal-exact in IEEE doubles).
_TS_PATTERN = [10.0, 20.0, 30.0, 40.0, 30.0, 20.0, 10.0]


@register(
    "timeseries_pattern_match",
    "relational",
    oracle=f"""
    WITH daily AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_n,
             {dsum_sql('value')} AS v
      FROM (SELECT * REPLACE (date_trunc('milliseconds', ts) AS ts) FROM events)
      GROUP BY 1, 2
    ),
    lagged AS (
      SELECT user_id, day_n,
             {", ".join(f"lead(v, {j}) OVER (PARTITION BY user_id ORDER BY day_n) AS v{j}" for j in range(7))}
      FROM daily
    ),
    scored AS (
      SELECT user_id, day_n,
             {" + ".join(f"(v{j} - CAST({q} AS DOUBLE)) * (v{j} - CAST({q} AS DOUBLE))" for j, q in enumerate([10.0, 20.0, 30.0, 40.0, 30.0, 20.0, 10.0]))} AS dist2
      FROM lagged
      WHERE {" AND ".join(f"v{j} IS NOT NULL" for j in range(7))}
    )
    SELECT user_id, day_n AS best_day, dist2
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY dist2, day_n) = 1
    """,
)
def timeseries_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the streaming-similarity
    shape of Time Series Similarity Search for Streaming Data in
    Distributed Systems, EDBT 2019, re-expressed relationally): slide a
    7-day query pattern over each user's daily-aggregate series and return
    the best-matching anchor day by squared euclidean distance.  The
    sliding window is 7 ``lead()`` columns over one (user, day) sort — no
    self-join, no explode: at 100 TB this is a single shuffle on user_id
    and the per-row cost is 7 subtract-square-adds.  All arithmetic is
    decimal-exact (2dp daily sums vs 1dp pattern literals, sequential
    left-to-right addition in both engines), so dist2 hash-matches
    bit-for-bit; ties break on the earliest day."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.unix_date(F.col("ts").cast("date")).alias("day_n")
    ).agg(dsum("value").alias("v"))
    w = W.partitionBy("user_id").orderBy("day_n")
    lagged = daily.select(
        "user_id",
        "day_n",
        *[F.lead("v", j).over(w).alias(f"v{j}") for j in range(7)],
    )
    cond = F.col("v0").isNotNull()
    for j in range(1, 7):
        cond = cond & F.col(f"v{j}").isNotNull()
    dist2 = None
    for j, q in enumerate(_TS_PATTERN):
        term = (F.col(f"v{j}") - F.lit(q)) * (F.col(f"v{j}") - F.lit(q))
        dist2 = term if dist2 is None else dist2 + term
    scored = lagged.where(cond).select(
        "user_id", "day_n", dist2.alias("dist2")
    )
    wr = W.partitionBy("user_id").orderBy("dist2", "day_n")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("day_n").alias("best_day"), "dist2")
    )


@register(
    "scalar_null_battery",
    "relational",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           nullif(c_acctbal, 0.0) AS bal_nz,
           ifnull(nullif(c_mktsegment, 'MACHINERY'), 'WAS_MACHINERY') AS seg_ifnull,
           CASE WHEN nullif(c_acctbal, 0.0) IS NOT NULL
                THEN 'has_bal' ELSE 'zero_bal' END AS nvl2_bal,
           (nullif(c_acctbal, 0.0) IS NULL) AS is_zero,
           (c_acctbal / nullif(c_acctbal - c_acctbal, 0.0)) IS NOT DISTINCT FROM NULL
             AS zero_div_is_null,
           coalesce(nullif(c_nationkey, 0), -1) AS nation_or_neg
    FROM customer
    """,
)
def scalar_null_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling battery: ``nullif``/``coalesce``/``ifnull``/``nvl2``
    and null-safe comparison (``IS NOT DISTINCT FROM`` = Spark ``eqNullSafe``).
    Three-valued logic is where engines quietly diverge (NULL propagation
    through arithmetic, null-safe equality, CASE fallthrough); this battery
    pins the semantics bit-for-bit against the oracle.  All codegen'd
    expressions — null checks never leave the JVM."""
    c = _t(spark, sf_dir, "customer")
    bal_nz = F.nullif(F.col("c_acctbal"), F.lit(0.0))
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        bal_nz.alias("bal_nz"),
        F.ifnull(F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("WAS_MACHINERY")).alias(
            "seg_ifnull"
        ),
        F.nvl2(bal_nz, F.lit("has_bal"), F.lit("zero_bal")).alias("nvl2_bal"),
        bal_nz.isNull().alias("is_zero"),
        # ANSI Spark raises on /0; try_divide yields NULL.  The oracle divides
        # by nullif(denom, 0.0) so it is NULL on every DuckDB version (plain
        # x/0.0 flipped to inf when ieee_floating_point_ops became the 1.1
        # default).  eqNullSafe == IS NOT DISTINCT FROM pins the comparison.
        F.try_divide(F.col("c_acctbal"), F.col("c_acctbal") - F.col("c_acctbal"))
        .eqNullSafe(F.lit(None).cast("double"))
        .alias("zero_div_is_null"),
        F.coalesce(F.nullif("c_nationkey", F.lit(0)), F.lit(-1)).alias("nation_or_neg"),
    )


@register(
    "window_streak_islands",
    "relational",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_n
      FROM {_EV} WHERE event_type = 'purchase'
    ),
    islands AS (
      SELECT user_id, day_n,
             day_n - dense_rank() OVER (PARTITION BY user_id ORDER BY day_n)
               AS island
      FROM days
    )
    SELECT user_id, count(*) AS streak_days, min(day_n) AS streak_start_day
    FROM islands
    GROUP BY user_id, island
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY count(*) DESC, min(day_n)) = 1
    """,
)
def window_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of consecutive purchase days per user
    (the classic streak/retention query).  ``day - dense_rank(day)`` is
    constant within a consecutive run, so one window pass turns runs into
    group keys — no self-join, no sequence explosion.  Plan: distinct on
    (user, day) — one shuffle that also serves the window (same partition
    key) — then a groupBy on (user, island) that reuses the hash
    partitioning, then a per-user top-1.  State per task is bounded by one
    user's history; the key is uniform at any scale."""
    ev = _t(spark, sf_dir, "events")
    days = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
                "day_n"
            ),
        )
        .distinct()
    )
    wd = W.partitionBy("user_id").orderBy("day_n")
    islands = days.withColumn("island", F.col("day_n") - F.dense_rank().over(wd))
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day_n").alias("streak_start_day"),
    )
    wr = W.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start_day")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start_day")
    )


@register(
    "join_lateral_topk",
    "relational",
    oracle="""
    SELECT n.n_name AS nation, l.c_name, l.c_acctbal
    FROM nation n,
         LATERAL (SELECT c_name, c_acctbal FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) l
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join: for each nation, its top-3
    customers by account balance (custkey tiebreak).  Spark decorrelates
    the lateral ``ORDER BY … LIMIT`` into a ranked window join — the same
    physical plan as the explicit ``row_number`` top-k
    (``topk_parts_per_brand``), proving the SQL surface and the DataFrame
    surface meet at one plan.  The per-group LIMIT bounds every group's
    output to k rows, so the join output is |nation| x 3 regardless of
    customer-table scale."""
    spark = prep(spark)
    table(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name AS nation, l.c_name, l.c_acctbal
        FROM lat_nation n,
             LATERAL (SELECT c_name, c_acctbal FROM lat_customer c
                      WHERE c.c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey LIMIT 3) l
        """
    )


@register(
    "scalar_variant_json",
    "relational",
    oracle=f"""
    SELECT event_id,
           json_extract(props, '$.k')::BIGINT AS k_int,
           json_extract(props, '$.k')::DOUBLE / 2.0 AS k_half,
           (json_extract(props, '$.k')::BIGINT % 10 = 0) AS k_decimal,
           json_extract_string(props, '$.missing') AS missing_str
    FROM {_EV}
    """,
)
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    ``parse_json`` decodes once into a binary-encoded variant, then typed
    ``try_variant_get`` path extractions — the open-schema JSON model
    (one decode, many typed reads) that replaces per-field
    ``get_json_object`` string re-parsing.  At 100 TB the decode is
    map-only and the variant's shredded binary layout keeps path reads
    O(field), not O(document).  Missing paths yield NULL (``try_`` form),
    matching SQL json_extract semantics."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_int"),
        (F.try_variant_get(v, "$.k", "double") / 2.0).alias("k_half"),
        (F.try_variant_get(v, "$.k", "bigint") % 10 == 0).alias("k_decimal"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_str"),
    )


@register(
    "scalar_regexp_battery",
    "relational",
    oracle="""
    SELECT p_partkey,
           coalesce(array_to_string(regexp_extract_all(p_name, '([a-z]+)', 1), '|'), '') AS words,
           len(regexp_extract_all(p_name, 'a', 0)) AS n_a,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_name, '^[a-m]') AS starts_low,
           regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word
    FROM part
    """,
)
def scalar_regexp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression battery: extract-all (array result), match
    counting, global replace, anchored boolean match, group extraction.
    Spark's ``regexp_replace`` is global by default — the oracle needs
    DuckDB's explicit ``'g'`` flag, exactly the cross-engine semantics
    difference a battery exists to pin.  All JVM-codegen'd; regex state
    machines compile once per task, not per row."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.array_join(
            F.regexp_extract_all("p_name", F.lit("([a-z]+)"), 1), "|"
        ).alias("words"),
        F.regexp_count("p_name", F.lit("a")).alias("n_a"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("^[a-m]").alias("starts_low"),
        F.regexp_extract("p_name", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
    )


@register(
    "scalar_codec_battery",
    "relational",
    oracle="""
    SELECT s_suppkey,
           md5(s_name) AS name_md5,
           sha256(s_name) AS name_sha256,
           hex(s_name::BLOB) AS name_hex,
           to_base64(s_name::BLOB) AS name_b64,
           decode(from_base64(to_base64(s_name::BLOB))) = s_name AS b64_roundtrip,
           decode(unhex(hex(s_name::BLOB))) = s_name AS hex_roundtrip
    FROM supplier
    """,
)
def scalar_codec_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec battery: md5 / sha-256 digests, hex and base64
    encode/decode with roundtrip identity proofs.  These are the
    primitives under content-addressed dedup (``dedup_exact_content_hash``),
    shard assignment, and wire-format encoding; all JVM intrinsics
    (commons-codec / MessageDigest), zero Python.  Hex case and base64
    padding are pinned cross-engine by the exact string compare."""
    s = _t(spark, sf_dir, "supplier")
    raw = F.col("s_name").cast("binary")
    return s.select(
        "s_suppkey",
        F.md5(raw).alias("name_md5"),
        F.sha2(raw, 256).alias("name_sha256"),
        F.hex(raw).alias("name_hex"),
        F.base64(raw).alias("name_b64"),
        (F.unbase64(F.base64(raw)).cast("string") == F.col("s_name")).alias(
            "b64_roundtrip"
        ),
        (F.unhex(F.hex(raw)).cast("string") == F.col("s_name")).alias("hex_roundtrip"),
    )


@register(
    "scalar_try_battery",
    "relational",
    oracle="""
    SELECT p_partkey,
           try_cast(p_type AS INTEGER) AS type_as_int,
           try_cast(CAST(p_size AS VARCHAR) AS INTEGER) AS size_roundtrip,
           100.0 / nullif(p_size - 25, 0) AS div_or_null,
           CAST(CASE WHEN p_size % 2 = 1 THEN NULL
                ELSE 9223372036854775806 END AS VARCHAR) AS add_or_null,
           (string_split(p_name, ' '))[9999] AS oob_token,
           CAST(try_cast(p_brand AS DECIMAL(5, 1)) AS DOUBLE) AS brand_num
    FROM part
    """,
)
def scalar_try_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safety battery: Spark 4 runs ANSI SQL (overflow, bad
    casts and /0 are runtime ERRORS), so production pipelines reach for
    the ``try_`` family — NULL-on-failure versions of cast/add/divide and
    out-of-bounds element access.  The oracle expresses the same semantics
    in DuckDB's always-try dialect (nullif guards, conditional overflow).
    This is the coercion layer of the reference's defensive ingestion
    (``to_numeric(errors='coerce')``, analyze_exp1.py:42-44) in engine
    form."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_type").try_cast("int").alias("type_as_int"),
        F.col("p_size").cast("string").try_cast("int").alias("size_roundtrip"),
        F.try_divide(F.lit(100.0), F.col("p_size") - 25).alias("div_or_null"),
        # near-max bigint survives only via string: pandas' nullable-int
        # fetch degrades int64 to float64, losing the last bits
        F.try_add(F.lit(9223372036854775806), ((F.col("p_size") % 2) * 2).cast("bigint"))
        .cast("string")
        .alias("add_or_null"),
        F.try_element_at(F.split("p_name", " "), F.lit(9999)).alias("oob_token"),
        # double, not decimal: an all-NULL decimal column fetches as object
        # (None) while the oracle's fetches float64 (NaN) — dtype drift
        # under a dtype-sensitive value hash
        F.col("p_brand").try_cast("decimal(5,1)").cast("double").alias("brand_num"),
    )


@register(
    "scalar_xml_parse",
    "relational",
    oracle="""
    SELECT o_orderkey, o_orderkey AS xk, o_orderstatus AS xs,
           o_orderpriority AS xp
    FROM orders
    """,
)
def scalar_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML decode (Spark 4 native ``from_xml``): each order row is
    serialized to an XML fragment and parsed back with an explicit schema
    — the parse must reproduce the source columns exactly, which is what
    the oracle checks (it reads the originals; any parser loss breaks the
    hash).  Only exactly-stringifiable types travel through the XML (long
    keys, strings) so the identity is bit-exact.  This is the third
    semi-structured decode surface next to ``from_json``
    (``ref_json_decode``) and VARIANT (``scalar_variant_json``) — one
    engine, three wire formats, same explicit-schema posture."""
    o = _t(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<o><k>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</k><s>"),
        F.col("o_orderstatus"),
        F.lit("</s><p>"),
        F.col("o_orderpriority"),
        F.lit("</p></o>"),
    )
    parsed = o.select(
        "o_orderkey", F.from_xml(xml, "k BIGINT, s STRING, p STRING").alias("x")
    )
    return parsed.select(
        "o_orderkey",
        F.col("x.k").alias("xk"),
        F.col("x.s").alias("xs"),
        F.col("x.p").alias("xp"),
    )


@register(
    "agg_mode_median",
    "relational",
    oracle="""
    WITH freq AS (
      SELECT l_returnflag, l_quantity, count(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    modes AS (
      SELECT l_returnflag, l_quantity AS mode_qty
      FROM freq
      QUALIFY row_number() OVER (PARTITION BY l_returnflag
                                 ORDER BY c DESC, l_quantity) = 1
    ),
    meds AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.5) AS median_qty,
             count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT m.l_returnflag, m.median_qty, m.n_rows, mo.mode_qty
    FROM meds m JOIN modes mo USING (l_returnflag)
    """,
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics: per-group exact ``median`` (linear
    interpolation) and DETERMINISTIC ``mode`` (Spark's two-arg
    ``mode(col, true)``: greatest frequency, lowest value on ties — the
    only mode a reproducible pipeline can ship; the oracle spells the
    identical tie-break as an explicit ranked window).  Exactness over a
    ~25-value domain is cheap at any scale: the partial state is one
    (value → count) map per group, mergeable map-side, so the shuffle
    moves histograms, not rows — the same reason ``percentile_approx``
    exists for wide domains (``agg_percentiles_exact`` documents the
    wide-domain contrast)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("mode(l_quantity, true)").alias("mode_qty"),
    )


@register(
    "agg_listagg_ordered",
    "relational",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) AS n_suppliers,
           string_agg(s.s_name, '|' ORDER BY s.s_name) AS roster,
           array_to_string(list(s.s_name ORDER BY s.s_name), '/') AS roster_arr
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: ``listagg … WITHIN GROUP (ORDER BY …)``
    (new in Spark 4) plus the array twin ``array_sort(collect_list(…))``.
    Concatenation order is the whole game — an unordered collect is
    nondeterministic under partitioning, so reproducible pipelines must
    pin it; WITHIN GROUP is the engine-level pin.  Output size grows with
    group size, so at 100 TB this is a per-bounded-group operator
    (rosters, top-k lists), never a fact-table-wide one — same posture as
    ``collect_set`` anywhere in this engine."""
    spark = prep(spark)
    table(spark, sf_dir, "supplier").createOrReplaceTempView("la_supplier")
    table(spark, sf_dir, "nation").createOrReplaceTempView("la_nation")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               count(*) AS n_suppliers,
               listagg(s.s_name, '|') WITHIN GROUP (ORDER BY s.s_name) AS roster,
               array_join(array_sort(collect_list(s.s_name)), '/') AS roster_arr
        FROM la_supplier s JOIN la_nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


_RECURSIVE_CLOSURE_SQL = """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE (c.c_nationkey * 31 + s.s_nationkey * 17) % 7 < 2
        AND c.c_nationkey <> s.s_nationkey
    ),
    walk(src, node, depth) AS (
      SELECT e.src, e.src, 0 FROM (SELECT DISTINCT src FROM edges) e
      UNION ALL
      SELECT w.src, e.dst, w.depth + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.depth < 3
    )
    SELECT src, count(DISTINCT node) AS n_reachable
    FROM walk GROUP BY src
"""


@register("sql_recursive_cte_closure", "relational", oracle=_RECURSIVE_CLOSURE_SQL)
def sql_recursive_cte_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level recursion (Spark 4 ``WITH RECURSIVE``): 3-hop
    reachability closure over the sparsified trade graph, counting
    distinct reachable nations per source.  The SAME SQL text runs on
    both engines — the strongest possible parity statement for the SQL
    surface.  This is the declarative counterpart of the driver-loop
    iteration in ``graph_bfs_shortest_path``: there the loop lives in
    Python and each round is a plan; here the engine owns the fixpoint
    (bounded UNION ALL recursion — Spark does not yet support UNION-
    distinct recursion, so the dedup is the outer DISTINCT, and the depth
    bound caps path fan-out the way the CTE's dist cap does in the BFS
    oracle)."""
    from kafka_spark_streaming_eval_spark.catalog import register_views

    spark = prep(spark)
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CLOSURE_SQL)


@register(
    "sql_pipe_syntax_params",
    "relational",
    oracle="""
    SELECT year(o_orderdate) AS yr, o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > 150000.0
    GROUP BY yr, o_orderstatus
    """,
)
def sql_pipe_syntax_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators) + named parameter
    binding (``spark.sql(..., args=...)``): the exp1-style summary written
    as a linear pipeline — FROM |> WHERE |> EXTEND |> AGGREGATE — with the
    price threshold supplied as a bind parameter instead of a spliced
    literal (the injection-safe form every metadata-driven 100 TB pipeline
    should use).  Pipe stages compile to exactly the same logical plan as
    the nested-SELECT formulation the oracle uses — syntax, not
    semantics."""
    from kafka_spark_streaming_eval_spark.catalog import register_views

    spark = prep(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_totalprice > :threshold
        |> EXTEND year(o_orderdate) AS yr
        |> AGGREGATE count(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                       AS total
           GROUP BY yr, o_orderstatus
        """,
        args={"threshold": 150000.0},
    )


@register(
    "agg_grouping_id_levels",
    "relational",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_id_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set level identification: ``grouping()`` flags distinguish
    a real NULL-keyed group from a super-aggregate row — the only correct
    way to consume rollup output (the COALESCE relabel is safe here
    because the flags, not the NULLs, carry level identity).  The gid
    arithmetic mirrors ``grouping_id`` bit packing and is identical
    cross-engine.  One Expand + one shuffle, same plan family as
    ``agg_grouping_sets``."""
    spark = prep(spark)
    table(spark, sf_dir, "orders").createOrReplaceTempView("gid_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
               count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        FROM gid_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "scalar_interval_battery",
    "relational",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y-%m-%d')
             AS next_month,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY, '%Y-%m-%d')
             AS plus_90d,
           CAST(isodow(o_orderdate) - 1 AS INTEGER) AS weekday_mon0,
           make_date(CAST(year(o_orderdate) AS INTEGER),
                     CAST(month(o_orderdate) AS INTEGER), 1)
             = date_trunc('month', CAST(o_orderdate AS DATE)) AS month_floor_eq,
           strftime(CAST(o_orderdate AS DATE)
                    + to_days(CAST(o_orderkey % 30 AS INTEGER)), '%Y-%m-%d')
             AS dynamic_shift
    FROM orders
    """,
)
def scalar_interval_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval battery: month addition with end-of-month clamping
    (Jan 31 + 1 month = Feb 29 on both engines — the clamping convention
    is pinned, not assumed), fixed and data-driven day shifts, Monday-
    based weekday (Spark ``weekday`` ↔ DuckDB ``isodow - 1``; the Sunday-
    based forms differ by engine, so the battery standardizes on ISO), and
    a ``make_date``/``date_trunc`` identity.  Dates travel as formatted
    strings — interval results are date-typed on one engine and
    timestamp-typed on the other, exactly the cross-engine trap the
    formatting removes."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 1), "yyyy-MM-dd").alias("next_month"),
        F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("plus_90d"),
        F.weekday(d).alias("weekday_mon0"),
        (
            F.make_date(F.year(d), F.month(d), F.lit(1))
            == F.date_trunc("month", d).cast("date")
        ).alias("month_floor_eq"),
        F.date_format(
            F.date_add(d, (F.col("o_orderkey") % 30).cast("int")), "yyyy-MM-dd"
        ).alias("dynamic_shift"),
    )


SAMPLE_K_PER_GROUP = 5


@register(
    "sample_k_per_group",
    "relational",
    oracle=f"""
    SELECT source, doc_id, smp_rank FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS smp_rank
      FROM documents
    ) WHERE smp_rank <= {SAMPLE_K_PER_GROUP}
    """,
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: the {SAMPLE_K_PER_GROUP} documents
    with the smallest md5(doc_id) in each source — the "show me K random
    docs from every source" primitive for eyeballing corpus quality, stable
    across engines and re-runs (a seeded ``sample()`` is not: its
    per-partition RNG reassigns rows whenever the layout changes).

    Scale: the rank<=k filter is pushed INTO the window operator by Spark's
    WindowGroupLimit rule (asserted in tests/test_plans.py), so each
    partition keeps a k-row heap per group instead of sorting its full
    partition — the corpus shuffles once on source, never globally sorts."""
    prep(spark)
    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("source", "doc_id")
        .withColumn("smp_rank", F.row_number().over(w))
        .where(F.col("smp_rank") <= SAMPLE_K_PER_GROUP)
    )


@register(
    "agg_funnel_conversion",
    "relational",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, ts FROM {_EV}),
    s1 AS (
      SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view'
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS n_view,
           (SELECT count(*) FROM s2) AS n_view_click,
           (SELECT count(*) FROM s3) AS n_full_funnel,
           round((SELECT count(*) FROM s2)
                 / CAST(nullif((SELECT count(*) FROM s1), 0) AS DOUBLE), 6)
             AS r_click,
           round((SELECT count(*) FROM s3)
                 / CAST(nullif((SELECT count(*) FROM s2), 0) AS DOUBLE), 6)
             AS r_purchase
    """,
)
def agg_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who viewed, then clicked strictly
    AFTER their first view, then purchased strictly after that click —
    the event-sequence conversion query every product-analytics engine
    ships.  Sequencing is per-user min-timestamp chaining (three keyed
    aggs + two user_id hash joins carrying a range post-filter), NOT a
    per-user sort or UDF — so at 100 TB each stage is one shuffle on
    user_id and the stage tables shrink monotonically down the funnel.
    Strict inequalities on ms-truncated timestamps keep both engines'
    stage sets identical."""
    ev = _t(spark, sf_dir, "events")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c1 = s1.agg(F.count(F.lit(1)).alias("n_view"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_view_click"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_full_funnel"))
    return (
        c1.crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
        .select(
            "n_view",
            "n_view_click",
            "n_full_funnel",
            # nullif guards: an empty stage yields NULL on both engines
            # (bare 0/0 would be NaN in Spark but NULL in DuckDB 1.0)
            F.round(
                F.col("n_view_click")
                / F.nullif(F.col("n_view"), F.lit(0)).cast("double"),
                6,
            ).alias("r_click"),
            F.round(
                F.col("n_full_funnel")
                / F.nullif(F.col("n_view_click"), F.lit(0)).cast("double"),
                6,
            ).alias("r_purchase"),
        )
    )


@register(
    "agg_cohort_retention",
    "relational",
    oracle=f"""
    WITH wk AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM {_EV}
    ),
    cohorts AS (
      SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT c.cohort_week,
           date_diff('day', c.cohort_week, wk.w) // 7 AS week_offset,
           count(*) AS n_active
    FROM wk JOIN cohorts c ON wk.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week, then
    counted in each subsequent week they were active — the triangle chart
    behind every retention dashboard.  Activity first collapses to
    distinct (user, week) — the only corpus-sized shuffle — then one small
    join against the per-user cohort table; week offsets are exact integer
    day-diffs / 7 (both weeks are Monday-truncated, so the division is
    always whole).  Count is per (user, week) rows, which the distinct
    step has already made unique per user."""
    ev = _t(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    cohorts = wk.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    return (
        wk.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("w").cast("date"), F.col("cohort_week").cast("date"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "scalar_url_battery",
    "relational",
    oracle="""
    WITH u AS (
      SELECT o_orderkey,
             'https://shop' || (o_orderkey % 5) || '.example.com/orders/'
               || o_orderkey || '?q=' || replace(o_orderpriority, ' ', '_')
               || '&page=' || (o_orderkey % 7) || '#s' || (o_orderkey % 3)
               AS url,
             'item%20' || o_orderkey || '%20detail' AS enc
      FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT o_orderkey,
           regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]q=([^&#]*)', 1) AS q_param,
           regexp_extract(url, '[?&]page=([^&#]*)', 1) AS page_param,
           regexp_extract(url, '#(.*)$', 1) AS frag,
           replace(enc, '%20', ' ') AS decoded
    FROM u
    """,
)
def scalar_url_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing battery over deterministically synthesized URLs (every
    50th order key): ``parse_url`` component extraction — protocol, host,
    path, single query parameter, fragment — plus percent-decoding, the
    toolkit behind URL canonicalization / host-level dedup in a crawl
    pipeline.  The oracle mirrors each component with an anchored regexp
    (DuckDB has no parse_url), and the decode fixture is %XX-only because
    Java's decoder also maps '+' to space while RFC-3986 decoders don't —
    the one URL-toolkit divergence a cross-engine pipeline must pin.
    Map-only projection; no shuffle at any scale."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    url = F.concat(
        F.lit("https://shop"),
        (F.col("o_orderkey") % 5).cast("string"),
        F.lit(".example.com/orders/"),
        F.col("o_orderkey").cast("string"),
        F.lit("?q="),
        F.regexp_replace("o_orderpriority", " ", "_"),
        F.lit("&page="),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("#s"),
        (F.col("o_orderkey") % 3).cast("string"),
    )
    enc = F.concat(
        F.lit("item%20"), F.col("o_orderkey").cast("string"), F.lit("%20detail")
    )
    w = o.select("o_orderkey", url.alias("url"), enc.alias("enc"))
    return w.select(
        "o_orderkey",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page")).alias("page_param"),
        F.parse_url("url", F.lit("REF")).alias("frag"),
        F.try_url_decode("enc").alias("decoded"),
    )


@register(
    "window_cumulative_distinct",
    "relational",
    oracle=f"""
    WITH first_seen AS (
      SELECT event_type, user_id,
             min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
               AS first_day
      FROM {_EV} GROUP BY event_type, user_id
    ),
    daily AS (
      SELECT event_type, first_day AS day_n, count(*) AS new_users
      FROM first_seen GROUP BY 1, 2
    )
    SELECT event_type, day_n, new_users,
           CAST(sum(new_users) OVER (
             PARTITION BY event_type ORDER BY day_n
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_distinct_users
    FROM daily
    """,
)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per group over time — "cumulative unique users
    per event type by day", the window shape SQL cannot express directly
    (COUNT(DISTINCT) OVER a running frame is unsupported in both engines).
    The standard O(n) reduction: a user contributes exactly once, on their
    FIRST day — so cumulative-distinct collapses to min-per-(type, user),
    a daily new-user count, and a plain running SUM over days.  Two keyed
    aggs + one tiny window; never a per-day re-scan of history, which is
    what makes it viable on an unbounded 100 TB event log."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("event_type", "user_id").agg(
        F.min(F.unix_date(F.col("ts").cast("date"))).alias("first_day")
    )
    daily = first_seen.groupBy(
        "event_type", F.col("first_day").alias("day_n")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day_n")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return daily.select(
        "event_type",
        "day_n",
        "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"),
    )


@register(
    "timeseries_anomaly_zscore",
    "relational",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_n,
             count(*) AS n
      FROM {_EV} GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             count(*) AS days,
             sum(n) AS s,
             sum(n * n) AS sq
      FROM daily GROUP BY event_type
    )
    SELECT * FROM (
      SELECT d.event_type, d.day_n, d.n,
             round((d.n - CAST(s.s AS DOUBLE) / s.days)
                   / sqrt(CAST(s.sq AS DOUBLE) / s.days
                          - (CAST(s.s AS DOUBLE) / s.days)
                            * (CAST(s.s AS DOUBLE) / s.days)), 6) AS z
      FROM daily d JOIN stats s ON d.event_type = s.event_type
      -- exact integer variance guard: sigma=0 groups never reach the
      -- division, so NaN/NULL zero-div semantics (which differ across
      -- DuckDB versions) cannot enter the comparison
      WHERE s.sq * s.days > s.s * s.s
    ) WHERE abs(z) > 2
    """,
)
def timeseries_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: days whose event count deviates more than
    2 population-sigma from that event type's daily mean — the first alarm
    every pipeline-observability stack implements.  Moments come from exact
    BIGINT sums (count and count² per day), so mean/σ/z are identical
    doubles on both engines regardless of partitioning; z is rounded to
    6 dp before the threshold so a last-ulp wobble can never flip a day in
    or out of the anomaly set.  Two keyed aggregations and one broadcast
    join of per-type stats — no window over history, no sort."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.unix_date(F.col("ts").cast("date")).alias("day_n")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("days"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
    )
    mean = F.col("s").cast("double") / F.col("days")
    z = F.round(
        (F.col("n") - mean)
        / F.sqrt(F.col("sq").cast("double") / F.col("days") - mean * mean),
        6,
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        # sigma=0 guard as an exact integer comparison, mirroring the oracle
        .where(F.col("sq") * F.col("days") > F.col("s") * F.col("s"))
        .select("event_type", "day_n", "n", z.alias("z"))
        .where(F.abs(F.col("z")) > 2)
    )


@register(
    "agg_weighted_median",
    "relational",
    oracle=f"""
    WITH w AS (
      SELECT l_returnflag AS grp,
             l_extendedprice AS v,
             CAST(l_quantity AS DECIMAL(38,6)) AS wt
      FROM lineitem
    ),
    ranked AS (
      SELECT grp, v, wt,
             sum(wt) OVER (PARTITION BY grp ORDER BY v, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             sum(wt) OVER (PARTITION BY grp) AS totw
      FROM w
    )
    SELECT grp AS l_returnflag,
           min(v) AS weighted_median,
           CAST(any_value(totw) AS DOUBLE) AS total_weight
    FROM ranked
    WHERE cumw * 2 >= totw
    GROUP BY grp
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median of extended price with quantity as the weight — the
    importance-sampling / cost-weighted statistic neither engine ships as a
    built-in aggregate.  Reduction: one running-weight window per group
    (ordered by value, DECIMAL-exact so the cumulative weights are
    bit-identical under any partitioning) and the median is the smallest
    value whose cumulative weight reaches half the group total.  Exactly
    one sort-shuffle per group key — same cost envelope as any exact
    quantile — and the ORDER includes the weight as a tiebreaker so equal
    values cannot reorder between engines."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("decimal(38,6)").alias("wt"),
    )
    run = (
        W.partitionBy("grp")
        .orderBy("v", "wt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot = W.partitionBy("grp")
    ranked = li.select(
        "grp",
        "v",
        F.sum("wt").over(run).alias("cumw"),
        F.sum("wt").over(tot).alias("totw"),
    )
    return (
        ranked.where(F.col("cumw") * 2 >= F.col("totw"))
        .groupBy("grp")
        .agg(
            F.min("v").alias("weighted_median"),
            F.any_value("totw").cast("double").alias("total_weight"),
        )
        .select(
            F.col("grp").alias("l_returnflag"), "weighted_median", "total_weight"
        )
    )


SESSION_GAP_MS = 86_400_000  # 1 day: the synthetic corpus is day-granular


@register(
    "window_sessionized_conversion",
    "relational",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_type, event_id FROM {_EV}
    ),
    lagged AS (
      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM e
    ),
    marked AS (
      SELECT *,
             CASE WHEN prev IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev) > {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS brk
      FROM lagged
    ),
    sess AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    per_sess AS (
      SELECT user_id, sid,
             min(ts) FILTER (WHERE event_type = 'view') AS t_view,
             max(ts) FILTER (WHERE event_type = 'click') AS last_click
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           count(*) AS n_sessions,
           count(*) FILTER (
             WHERE t_view IS NOT NULL AND last_click > t_view
           ) AS n_converted
    FROM per_sess GROUP BY user_id
    """,
)
def window_sessionized_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped conversion: gap-based sessionization (a new session
    after a >1-day silence) composed with a within-session view->click
    funnel — "how many of each user's visits convert", the query product
    analytics runs hourly.  Sessionization is the classic two-window
    reduction (lag -> break flag -> running sum), so the whole pipeline is
    ONE shuffle on user_id reused by both windows and the session
    aggregation; tie-breaking on (ts, event_id) pins session boundaries
    bit-identically across engines, and the gap compare is integer
    epoch-ms, never interval arithmetic."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev", F.lag("ts").over(w))
    brk = F.when(
        F.col("prev").isNull()
        | (F.unix_millis("ts") - F.unix_millis("prev") > SESSION_GAP_MS),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = lagged.withColumn("brk", brk).withColumn(
        "sid", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "last_click"
        ),
    )
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        # count(when(...)) ignores NULL condition rows, so a user whose
        # sessions are all view-only yields 0 here (sum() would yield NULL,
        # diverging from the oracle's count(*) FILTER)
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("last_click") > F.col("t_view")),
                F.lit(1),
            )
        ).alias("n_converted"),
    )


# ---------------------------------------------------------------------------
# Filtered / conditional aggregate battery
# ---------------------------------------------------------------------------


@register(
    "agg_filtered_battery",
    "relational",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           count(*) FILTER (WHERE value > 100.0) AS n_high,
           count(*) FILTER (WHERE user_id % 7 = 0) AS n_mod7,
           {dsum_sql('CASE WHEN user_id % 2 = 0 THEN value END')} AS even_user_value,
           bool_or(value > 400.0) AS any_extreme,
           bool_and(value > 0.0) AS all_positive,
           max_by(user_id, event_id) AS latest_user,
           min_by(user_id, event_id) AS earliest_user
    FROM events
    GROUP BY event_type
    """,
)
def agg_filtered_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered and conditional aggregates in one grouped pass: SQL FILTER
    clauses (as ``count_if`` / conditional sum on the Spark side),
    ``bool_or``/``bool_and`` existence flags, and ``max_by``/``min_by``
    arg-extremes keyed on the unique event_id (so the argmax is
    deterministic).  All nine aggregates fuse into a single hash-aggregate
    over 5 group keys — one scan, map-side partials, no subquery per
    predicate the way pre-FILTER SQL had to."""
    ev = _t(spark, sf_dir, "events")
    even_val = F.when(F.col("user_id") % 2 == 0, F.col("value"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("value") > 100.0).alias("n_high"),
        F.count_if(F.col("user_id") % 7 == 0).alias("n_mod7"),
        dsum(even_val).alias("even_user_value"),
        F.bool_or(F.col("value") > 400.0).alias("any_extreme"),
        F.bool_and(F.col("value") > 0.0).alias("all_positive"),
        F.max_by("user_id", "event_id").alias("latest_user"),
        F.min_by("user_id", "event_id").alias("earliest_user"),
    )


# ---------------------------------------------------------------------------
# Correlated subqueries (EXISTS / NOT EXISTS / scalar) — Catalyst decorrelation
# ---------------------------------------------------------------------------

_EXISTS_DECORRELATED_SQL = """
SELECT c.c_custkey, c.c_name,
       (SELECT count(*) FROM orders o3
        WHERE o3.o_custkey = c.c_custkey) AS n_orders
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 250000.0)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'F')
"""


@register("sql_exists_decorrelated", "relational", oracle=_EXISTS_DECORRELATED_SQL)
def sql_exists_decorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subqueries in their SQL form — EXISTS, NOT EXISTS, and a
    correlated scalar count — run as the SAME SQL text on both engines.
    The DataFrame-API counterparts (`join_semi_big_spenders`,
    `join_anti_dormant`, `join_left_order_counts`) pin the physical
    semi/anti/outer join shapes; this entry pins Catalyst's subquery
    DECORRELATION: all three subqueries rewrite to joins on o_custkey (the
    scalar count must stay correct for zero-order customers — the classic
    COUNT-bug case — via the left outer + coalesce rewrite).  At 100 TB
    each becomes one shuffled equi-join; nothing executes per-row."""
    from kafka_spark_streaming_eval_spark.catalog import register_views

    spark = prep(spark)
    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_DECORRELATED_SQL)


@register(
    "agg_multi_count_distinct",
    "relational",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS u_users,
           count(DISTINCT user_id % 10) AS u_mod,
           count(DISTINCT value) AS u_values,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def agg_multi_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over DIFFERENT expressions in one grouped
    aggregate — Catalyst plans this with an Expand operator (one replicated
    row-stream per distinct set) feeding a two-phase aggregate, instead of
    N self-joined scans.  Distinctness over the double column is exact
    (identical parquet bits on both engines, no arithmetic).  At 100 TB the
    Expand multiplies shuffle volume by the number of distinct sets — the
    plan to watch for, and the reason `agg_approx_distinct` exists as the
    sketch alternative."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("u_users"),
        F.count_distinct(F.col("user_id") % 10).alias("u_mod"),
        F.count_distinct("value").alias("u_values"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch (mergeable, bounded-memory heavy-hitter counts)
# ---------------------------------------------------------------------------

CM_DEPTH = 4  # independent hash rows
CM_PROBES = 5  # how many keys the query estimates


@register(
    "agg_countmin_sketch",
    "relational",
    oracle=f"""
    WITH cells AS (
      SELECT j, substr(md5(j || ':' || CAST(user_id AS VARCHAR)), 1, 1) AS c,
             count(*) AS n
      FROM events
      CROSS JOIN (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS j)
      GROUP BY j, c
    ),
    probes AS (
      SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT {CM_PROBES}
    ),
    coords AS (
      SELECT p.user_id, j,
             substr(md5(j || ':' || CAST(p.user_id AS VARCHAR)), 1, 1) AS c
      FROM probes p
      CROSS JOIN (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS j)
    ),
    est AS (
      SELECT coords.user_id, min(cells.n) AS est_n
      FROM coords JOIN cells USING (j, c)
      GROUP BY coords.user_id
    ),
    truth AS (
      SELECT user_id, count(*) AS true_n FROM events GROUP BY user_id
    )
    SELECT e.user_id, t.true_n, e.est_n,
           e.est_n - t.true_n AS overcount,
           e.est_n >= t.true_n AS cm_never_undercounts
    FROM est e JOIN truth t USING (user_id)
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch built and queried entirely as relational ops: a
    {CM_DEPTH}x16 counter grid (row j buckets keys by the first hex char of
    md5(j:key)), point-estimates for the {CM_PROBES} smallest user ids as
    min-over-rows, checked against true counts — the structural guarantee
    (estimate never undercounts) travels as an output column.  Buckets stay
    hex STRINGS end to end: no hex-to-int step to drift cross-engine.

    Why this matters at 100 TB: the grid is fixed-size (64 cells) however
    many distinct keys stream through, the cell counts are plain SUMs —
    map-side combinable AND mergeable across shards/days exactly like the
    `agg_hll_partitioned_merge` sketches — so frequency estimation costs
    one bounded aggregation where exact per-key counting would shuffle
    every key."""
    ev = _t(spark, sf_dir, "events")
    js = F.explode(F.array(*[F.lit(j) for j in range(CM_DEPTH)])).alias("j")
    keyed = ev.select(F.col("user_id").cast("string").alias("uid")).select(
        "uid", js
    )
    cell_of = F.substring(
        F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("uid"))), 1, 1
    )
    cells = keyed.groupBy("j", cell_of.alias("c")).agg(
        F.count(F.lit(1)).alias("n")
    )
    probes = (
        ev.select("user_id").distinct().orderBy("user_id").limit(CM_PROBES)
    )
    coords = probes.select(F.col("user_id"), js).select(
        "user_id",
        "j",
        F.substring(
            F.md5(
                F.concat(
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            ),
            1,
            1,
        ).alias("c"),
    )
    est = (
        coords.join(F.broadcast(cells), ["j", "c"])
        .groupBy("user_id")
        .agg(F.min("n").alias("est_n"))
    )
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    return (
        est.join(truth, "user_id")
        .select(
            "user_id",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).alias("overcount"),
            (F.col("est_n") >= F.col("true_n")).alias("cm_never_undercounts"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate-quantile sketch accuracy contract
# ---------------------------------------------------------------------------

AQ_ACCURACY = 100  # percentile_approx accuracy -> rank error <= 1/100


@register(
    "agg_approx_quantile_contract",
    "relational",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(quantile_cont(value, 0.5), 6) AS exact_median,
           TRUE AS approx_rank_ok
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch accuracy as a hash-checkable contract: the
    Greenwald-Khanna guarantee is a RANK error bound (<= 1/accuracy), so
    the Spark side computes `percentile_approx`'s median estimate, measures
    the estimate's TRUE rank INTERVAL [count(<), count(<=)] with an exact
    second pass, and emits an interval-overlap flag next to the exact
    median — the oracle asserts the flag (same pattern as
    `agg_approx_distinct`; the raw sketch value is implementation-specific
    and never enters the hash).  The interval form is the correct contract
    under duplicated values: any element of [count(<), count(<=)] is a
    valid rank for the estimate, so the check passes iff the interval
    overlaps [0.5-eps, 0.5+eps].

    Why it matters at 100 TB: `percentile_approx` is the streaming/metrics
    quantile path (`ref_flagship`'s streaming twin uses it per batch);
    this row keeps its error guarantee continuously verified instead of
    assumed.  Plan: two grouped aggregations + a 5-row broadcast back —
    the verification pass is the expensive half, which is exactly why
    production runs the sketch and audits sample groups."""
    ev = _t(spark, sf_dir, "events")
    apx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(AQ_ACCURACY)).alias("am"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("exact_median"),
    )
    # Interval-overlap form of the GK rank-error contract: with duplicates,
    # the estimate's rank is the whole interval [count(<), count(<=)], so
    # requiring |count(<=)/n - 0.5| <= eps can reject a sketch that KEPT its
    # guarantee (count(<=) is the interval's max; heavy ties at the median
    # push it far above 0.5).  The correct check is that the rank interval
    # OVERLAPS [0.5-eps, 0.5+eps]: count(<)/n <= 0.5+eps AND
    # count(<=)/n >= 0.5-eps.
    eps = 1.0 / AQ_ACCURACY
    ranked = (
        ev.join(F.broadcast(apx), "event_type")
        .groupBy("event_type", "n", "exact_median")
        .agg(
            (
                (
                    F.count_if(F.col("value") < F.col("am")) / F.first("n")
                    <= eps + 0.5 + 1.0 / F.first("n")
                )
                & (
                    F.count_if(F.col("value") <= F.col("am")) / F.first("n")
                    >= 0.5 - eps - 1.0 / F.first("n")
                )
            ).alias("approx_rank_ok")
        )
    )
    return ranked.select("event_type", "n", "exact_median", "approx_rank_ok")


# ---------------------------------------------------------------------------
# Rolling (windowed) correlation from decimal-exact moments
# ---------------------------------------------------------------------------


@register(
    "window_rolling_corr",
    "relational",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS x,
             CAST(floor({dsum_sql('value')} * 1000) AS BIGINT) AS v
      FROM {_EV} GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, day,
             CAST(count(*) OVER w AS DOUBLE) AS c,
             CAST(sum(x) OVER w AS DOUBLE) AS sx,
             CAST(sum(v) OVER w AS DOUBLE) AS sv,
             CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0)))
                  OVER w AS DOUBLE) AS sxv,
             CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
                  OVER w AS DOUBLE) AS sxx,
             CAST(sum(CAST(v AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0)))
                  OVER w AS DOUBLE) AS svv
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, epoch_ms(day) AS day_ms,
           round(CASE WHEN (c*sxx - sx*sx) * (c*svv - sv*sv) > 0
                      THEN (c*sxv - sx*sv)
                           / sqrt((c*sxx - sx*sx) * (c*svv - sv*sv)) END,
                 6) AS corr7
    FROM m
    """,
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day correlation between a day's event count and its value
    total, per event type — windowed bivariate statistics for time-series
    feature engineering.  Correlation is invariant under positive scaling
    of either variable, so the value axis enters as the INTEGER grid point
    v = floor(daily_sum * 1e3) — a single deterministic quantization of an
    identical IEEE double on both engines (no computed-double → DECIMAL
    cast anywhere, hence no cross-engine cast-midpoint divergence) — and
    every moment is then EXACT integer arithmetic: x and v sum as BIGINT,
    the second moments multiply as DECIMAL(18,0)×DECIMAL(18,0) (product
    width 37 ≤ both engines' 38-digit cap, so neither engine falls back
    to inexact doubles).  Overflow envelope: |daily sum| up to ~1e12
    (v ≤ 1e15, v² ≤ 1e30, 7-row frame sums ≤ 7e30 inside DECIMAL(38,0))
    — 100 TB puts a hot event type's daily sum near 1e10, two orders
    inside the envelope, vs ~3e6 for the earlier floor(y²·1e6)-as-BIGINT
    form.  The closed-form combination is identical IEEE arithmetic (sqrt
    correctly rounded everywhere; no libm estimator).  Degenerate frames
    (zero variance, frame of one) yield NULL via the same guarded CASE.

    Plan: one daily aggregation (map-side combinable), then one window
    pass over ~30 rows per event type — at 100 TB the window input is the
    calendar, not the corpus."""
    ev = table(prep(spark), sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.floor(dsum("value") * F.lit(1000.0)).cast("long").alias("v"),
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    D18 = "decimal(18,0)"

    def isum(expr):
        return F.sum(expr).over(w).cast("double")

    x, v = F.col("x"), F.col("v")
    m = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).cast("double").alias("c"),
        isum(x).alias("sx"),
        isum(v).alias("sv"),
        isum(x.cast(D18) * v.cast(D18)).alias("sxv"),
        isum(x.cast(D18) * x.cast(D18)).alias("sxx"),
        isum(v.cast(D18) * v.cast(D18)).alias("svv"),
    )
    c, sx, sv = F.col("c"), F.col("sx"), F.col("sv")
    sxv, sxx, svv = F.col("sxv"), F.col("sxx"), F.col("svv")
    var_prod = (c * sxx - sx * sx) * (c * svv - sv * sv)
    return m.select(
        "event_type",
        F.unix_millis("day").alias("day_ms"),
        F.round(
            F.when(var_prod > 0, (c * sxv - sx * sv) / F.sqrt(var_prod)),
            6,
        ).alias("corr7"),
    )


# ---------------------------------------------------------------------------
# Bitwise fold aggregates (bitmap-index building blocks)
# ---------------------------------------------------------------------------


@register(
    "agg_bitwise_fold",
    "relational",
    oracle="""
    SELECT event_type,
           bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS user_bucket_bitmap,
           bit_and(CAST(user_id % 256 AS BIGINT) | 240) AS common_high_nibble,
           bit_xor(CAST(user_id AS BIGINT)) AS id_parity_fold,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitwise_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate folds: OR builds a 32-slot membership bitmap of
    user-id buckets per event type (the building block of bitmap indexes
    and roaring-style segment summaries), AND extracts bit positions
    common to every row, XOR folds ids into a parity checksum (a cheap
    order-independent integrity probe for replication audits).  All three
    are associative/commutative integer folds — map-side combinable,
    partition-order-independent, exact on both engines by construction."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        ).alias("user_bucket_bitmap"),
        F.bit_and(
            (F.col("user_id") % 256).cast("long").bitwiseOR(F.lit(240))
        ).alias("common_high_nibble"),
        F.bit_xor(F.col("user_id").cast("long")).alias("id_parity_fold"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@register(
    "agg_markov_transitions",
    "relational",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM {_EV}
    ),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT from_type, to_type, n,
           round(n * 1.0 / CAST(sum(n) OVER (PARTITION BY from_type)
                                AS DOUBLE), 6) AS p
    FROM trans
    """,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    order each user's events by (ts, event_id), pair each with its
    successor via ``lead``, count (from, to) transitions corpus-wide, and
    normalize per source state — the behavioral model behind funnel
    prediction and next-event recommendation.  The probability is one
    division of exact integers (identical doubles both engines).

    Plan shape: one per-user ordered window (state bounded per user — the
    sessionization shuffle shape), one 25-cell aggregation, one tiny
    window over the matrix itself.  At 100 TB the user-keyed window is
    the only corpus-sized operation, and it partitions perfectly."""
    ev = table(prep(spark), sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = W.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(wt).cast("double"), 6
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


@register(
    "agg_rfm_segmentation",
    "relational",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             {dsum_sql('o_totalprice')} AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, monetary,
             ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM rfm
    )
    SELECT r_score || '-' || f_score || '-' || m_score AS segment,
           count(*) AS n_customers,
           {dsum_sql('monetary')} AS segment_monetary
    FROM scored
    GROUP BY 1
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile-score every customer on Recency
    (last order date), Frequency (order count), and Monetary (decimal-
    exact spend), then report per-segment population and revenue — the
    classic customer-value grid.  Each ntile orders by (metric, custkey)
    so bucket boundaries are fully deterministic under ties on both
    engines.

    Plan shape: one per-customer aggregation, three global ntile windows
    over the (small) customer-summary table, one ~125-group rollup.  At
    100 TB the windows run over customers, not orders — if even that is
    too big for one partition, percent_rank against broadcast quantile
    bounds is the sharded variant."""
    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    scored = rfm.select(
        "monetary",
        F.ntile(5).over(W.orderBy("last_order", "o_custkey")).alias("r_score"),
        F.ntile(5).over(W.orderBy("frequency", "o_custkey")).alias("f_score"),
        F.ntile(5).over(W.orderBy("monetary", "o_custkey")).alias("m_score"),
    )
    return scored.groupBy(
        F.concat_ws("-", "r_score", "f_score", "m_score").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("monetary").alias("segment_monetary"),
    )
