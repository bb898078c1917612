"""TPC-H-style decision-support queries beyond Q1/Q3/Q5/Q10 (relational.py).

The reference engine (SURVEY.md §2.a) has no joins at all; this module
widens the relational surface with all 22 classic TPC-H shapes.  The
testdata schema has no partsupp table and no l_commitdate / l_receiptdate /
l_shipmode / c_phone / p_container / o_comment columns, so queries that
need them are adapted to the columns that do exist — each docstring states
the adaptation (the supplier↔part relation comes from lineitem, lateness
is measured against o_orderdate, and Q9's supply cost is a retail-price
proxy).  The planner shape each query exists to exercise is preserved.

Scale notes (100 TB):
- Every query keeps selective predicates on the scan side so they push into
  parquet (`PushedFilters`), and only provably-small inputs are broadcast
  (nation; a brand-filtered part slice = 1/25th of part; single-row scalar
  aggregates).  Fact-fact joins shuffle on their natural equi-key where
  bucketed storage would make them shuffle-free.
- Scalar subqueries (Q15 max, Q17 per-part threshold, Q22 avg) become a
  tiny aggregate crossJoin/broadcast-joined back — no recomputation of the
  fact lineage and no driver round-trip.
- Double arithmetic follows the determinism contract: SUM/AVG via DECIMAL
  (functions.numeric) so results are bit-identical across any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.catalog import table
from kafka_spark_streaming_eval_spark.functions.numeric import (
    davg_sql,
    dsum,
    dsum_sql,
)
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import prep


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prep(spark)
    return table(spark, sf_dir, name)


def _rev():
    # Column exprs need an active SparkContext — build lazily, not at import.
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = "l_extendedprice * (1 - l_discount)"


@register(
    "tpch_q6_forecast_revenue",
    "relational",
    oracle=f"""
    SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate, the canonical predicate-pushdown
    query.  All three predicates (shipdate range, discount band, quantity
    cap) reach the parquet reader as PushedFilters; no shuffle at all —
    partial sums merge in a single-row final agg.  At 100 TB with shipdate-
    partitioned storage the date range also prunes whole partitions."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


@register(
    "tpch_q4_order_priority",
    "relational",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted): the reference schema has no l_commitdate /
    l_receiptdate, so "late" means shipped >60 days after the order date.
    The EXISTS decorrelates to a LEFT SEMI join on the orderkey equi-key
    with the lateness predicate as a join residual — one shuffle on
    orderkey, then a tiny 5-group aggregate."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "leftsemi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q7_volume_shipping",
    "relational",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {dsum_sql('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year, {_REV_SQL.replace('l_', 'l.l_')} AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1999-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.  The
    nation pair disjunction stays above the joins (it references both
    sides); supplier/customer/nation broadcast, so the only shuffle is
    lineitem↔orders on orderkey.  `year()` is computed post-join — cheap,
    and keeps the shipdate range pushed down as a plain range filter."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            _rev().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume").alias("revenue"))
    )


@register(
    "tpch_q12_priority_shipping",
    "relational",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted): no l_shipmode column exists, so lines group by
    l_returnflag instead.  Conditional aggregation (CASE inside SUM) folds
    the two counts into one pass; the join is the orderkey equi-join with
    the year filter pushed to the lineitem scan."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_customer_distribution",
    "relational",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (adapted): the order-exclusion predicate filters urgent
    orders (no o_comment column).  Two-level aggregation: per-customer order
    count (left join keeps zero-order customers), then the histogram of
    those counts.  The second groupBy input is one row per customer —
    already small relative to the fact table at any scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q14_promo_revenue",
    "relational",
    oracle=f"""
    SELECT round(100.0 * {dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
                 / {dsum_sql(_REV_SQL)}, 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of one month's revenue from promo parts (p_type =
    'PROMO'; the schema's p_type is a 6-value category, not a 3-word
    string).  One join + one conditional aggregate; the month filter cuts
    lineitem ~1/80 before the join.  Part joins without a hint — at 100 TB
    part is fact-sized, and AQE picks broadcast when a filter makes it
    small.  Both sums are decimal-exact, so the final ratio is one double
    division on identical operands — deterministic; rounded to 6 dp."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = _t(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * dsum(promo) / dsum(_rev()), 6).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q15_top_supplier",
    "relational",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {dsum_sql(_REV_SQL)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.  The view
    materializes once as a per-supplier aggregate (small: one row per
    supplier); the scalar max is a single-row aggregate of that, broadcast
    back as a crossJoin — the fact lineage executes once, unlike the
    naive correlated form which would scan lineitem twice.  Revenue is
    decimal-exact so the max-equality compare is safe on both engines."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_rev()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q16_supplier_part_count",
    "relational",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 7, 14, 23, 30, 36, 45, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted): no partsupp table exists, so the supplier↔part
    relation comes from lineitem (l_partkey, l_suppkey) — who actually
    shipped the part.  COUNT(DISTINCT) over a 3-key group expands to a
    two-phase distinct-then-count in Catalyst; the three part predicates
    (brand/type/size-IN) all push into the part scan, shrinking the join's
    build side ~24/25 · 5/6 · 8/50 before any shuffle."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 7, 14, 23, 30, 36, 45, 49))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    "relational",
    oracle=f"""
    WITH avg_qty AS (
      SELECT l_partkey AS ap_partkey,
             CAST(0.2 AS DOUBLE) * {davg_sql('l_quantity')} AS threshold
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#23'
      GROUP BY l_partkey
    )
    SELECT round({dsum_sql('l_extendedprice')} / 7.0, 6) AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN avg_qty ON l_partkey = ap_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost if small-quantity orders (below 20% of the
    part's average order quantity) were not taken.  The correlated scalar
    subquery decorrelates into a per-part aggregate joined back on partkey
    — Catalyst executes the brand-filtered join once per branch but the
    brand slice is 1/25 of lineitem.  The 0.2·avg threshold derives from a
    decimal-exact average, so the `<` compare is bit-identical on both
    engines (no container filter exists in this schema; brand alone
    selects)."""
    p23 = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    li = _t(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(p23), li.l_partkey == p23.p_partkey)
    thresh = branded.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double")
                / F.count("l_quantity")
            )
        ).alias("threshold")
    )
    small = branded.join(
        F.broadcast(thresh),
        (branded.l_partkey == thresh.ap_partkey)
        & (branded.l_quantity < thresh.threshold),
    )
    return small.agg(F.round(dsum("l_extendedprice") / 7.0, 6).alias("avg_yearly"))


@register(
    "tpch_q18_large_volume_customer",
    "relational",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, {dsum_sql('l_quantity')} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 300
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers who placed orders totalling >300 units.  The
    HAVING filter runs on the grouped decimal sum BEFORE the joins, so only
    the big orders (≈1% of orders) ever join — orders and customer attach
    to a tiny left side.  No LIMIT: the threshold itself bounds the result,
    avoiding Q18's classic nondeterministic top-100 cut."""
    # Spread the under-split lineitem scan by the AGGREGATION KEY (r15,
    # guide §2.4 "two operations keyed the same way share one exchange"):
    # the keyed repartition IS the exchange the orderkey groupBy needs, so
    # no extra shuffle is added — it just moves ahead of the sum, letting
    # the decimal aggregation run at session parallelism instead of inside
    # the single-row-group scan task.  Unlike the catalog-level lineitem
    # spread r14 rejected, no broadcast decision is at risk here: lineitem
    # is the probe side of both joins (orders auto-broadcasts on its own
    # estimate, customer is hinted).  Interleaved A/B at sf0.1 quiet:
    # 1.01 s -> 0.77 s, identical output; no-op on multi-split inputs.
    from kafka_spark_streaming_eval_spark.catalog import scan_parts
    from kafka_spark_streaming_eval_spark.session import spread_small_scan

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    li = spread_small_scan(
        li, "l_orderkey", scan_parts=scan_parts(spark, sf_dir, "lineitem")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_dq"))
        .where(F.col("_dq") > 300)
        .select("l_orderkey", F.col("_dq").cast("double").alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


@register(
    "tpch_q19_discounted_revenue",
    "relational",
    oracle=f"""
    SELECT {dsum_sql(_REV_SQL)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted: no p_container / l_shipmode columns — brand ×
    size × quantity bands express the same OR-of-ANDs shape).  The
    disjunction references both join sides, so it evaluates post-join as a
    residual; Catalyst still pushes the per-side implied filters
    (brand IN (...), size <= 15, quantity <= 30) down to each scan —
    the classic "OR-predicate derivation" optimization this query exists
    to test."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#34") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(dsum(_rev()).alias("revenue"))
    )


@register(
    "tpch_q22_dormant_value_customers",
    "relational",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {davg_sql('c_acctbal')} AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name, count(*) AS numcust, {dsum_sql('c_acctbal')} AS totacctbal
    FROM customer c
    JOIN nation ON c.c_nationkey = n_nationkey
    CROSS JOIN avg_bal
    WHERE c.c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY n_name
    """,
)
def q22_dormant_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: no c_phone column, so the country-code IN-list is
    dropped — "promising dormant" = above-average positive balance and no
    orders).  Three planner shapes in one query: a scalar aggregate
    broadcast as a crossJoin (the avg), a LEFT ANTI join against the fact
    table (the NOT EXISTS), and a broadcast dimension join (nation).  The
    anti join shuffles customer against orders' custkey projection only —
    one bigint column of the fact table."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double")
                / F.count("c_acctbal")
            ).alias("ab")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    "relational",
    oracle="""
    WITH costs AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
             min(l.l_extendedprice / l.l_quantity) AS c
      FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE p.p_size < 15 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
      GROUP BY ALL
    )
    SELECT p_partkey, p_name, s_name, n_name, s_acctbal, c AS supp_cost
    FROM costs
    QUALIFY c = min(c) OVER (PARTITION BY p_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted): no partsupp table, so the part↔supplier relation
    and the "supply cost" come from lineitem — cost of a (part, supplier)
    pair = the minimum observed unit price (l_extendedprice / l_quantity)
    among that supplier's shipments of the part.  Preserves Q2's planner
    shape: a correlated min subquery per part, decorrelated here as a
    window min over a per-(part, supplier) aggregate — the fact table is
    scanned ONCE, vs twice in the naive correlated form.  Part and the
    supplier→nation→region chain are dimension-filtered before the join and
    broadcast; the only shuffle is the groupBy on (part, supplier).  Unit
    price is a double division — identical IEEE operands on both engines,
    so the min-equality compare is exact (and supp_cost stays unrounded:
    a half-tie at 6 dp would round HALF_UP in Spark vs half-even in DuckDB)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") < 15) & (F.col("p_type") == "STANDARD")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    sup = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("c"))
    )
    w = W.partitionBy("p_partkey")
    return (
        costs.withColumn("_mn", F.min("c").over(w))
        .where(F.col("c") == F.col("_mn"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            "s_acctbal",
            F.col("c").alias("supp_cost"),
        )
    )


@register(
    "tpch_q8_market_share",
    "relational",
    oracle=f"""
    SELECT o_year,
           round({dsum_sql("CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END")}
                 / {dsum_sql('volume')}, 6) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      JOIN region r   ON n2.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_1's share of the ASIA market for ECONOMY parts by
    order year.  Eight-table join where every dimension chain (part slice,
    customer→nation→region, supplier→nation) broadcasts, so the only
    shuffle is lineitem↔orders on orderkey; the conditional-sum ratio
    computes both numerator and denominator in ONE aggregation pass instead
    of two branches.  Both sums are decimal-exact, making the final double
    division bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return joined.groupBy("o_year").agg(
        F.round(dsum(nation_vol) / dsum("volume"), 6).alias("mkt_share")
    )


@register(
    "tpch_q9_product_profit",
    "relational",
    oracle=f"""
    SELECT nation, o_year,
           round({dsum_sql('volume')} - {dsum_sql('cost')}, 6) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             0.25 * p.p_retailprice * l.l_quantity AS cost
      FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      WHERE p.p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted): profit on "gear" product lines by supplier nation
    and year.  No partsupp.ps_supplycost exists, so cost is proxied as
    0.25 x p_retailprice x l_quantity (0.25 is binary-exact, keeping every
    cost value within 6 decimal digits — the determinism contract).  The
    name-LIKE filter cannot push below the part scan as a range, but it
    prunes the broadcast build side before the join; profit aggregates as
    two decimal-exact sums (revenue, cost) subtracted once at the end —
    not per-row — so one aggregation pass suffices."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").contains("gear"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            (F.lit(0.25) * F.col("p_retailprice") * F.col("l_quantity")).alias("cost"),
        )
    )
    return joined.groupBy("nation", "o_year").agg(
        F.round(dsum("volume") - dsum("cost"), 6).alias("sum_profit")
    )


@register(
    "tpch_q11_important_parts",
    "relational",
    oracle=f"""
    WITH f AS (
      SELECT l_partkey, l_extendedprice
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
    ),
    t AS (SELECT {dsum_sql('l_extendedprice')} AS _t FROM f)
    SELECT l_partkey AS p_partkey, {dsum_sql('l_extendedprice')} AS part_value
    FROM f CROSS JOIN t
    GROUP BY l_partkey, _t
    HAVING {dsum_sql('l_extendedprice')} > 0.001 * _t
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted): parts representing a significant share of
    NATION_7's shipped value.  partsupp.ps_supplycost*ps_availqty becomes
    sum(l_extendedprice) over the nation's lineitems.  Q11's signature
    shape survives: the SAME filtered input feeds both a per-part aggregate
    and a global scalar total, and the scalar broadcasts back as a
    crossJoin for the HAVING fraction — Catalyst reuses the exchange for
    the double-aggregation, and no driver round-trip materializes the
    scalar.  The 0.001 fraction is scale-free: the query returns the same
    relative slice at any SF."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    f = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_partkey", "l_extendedprice")
    )
    tot = f.agg(dsum("l_extendedprice").alias("_t"))
    per_part = f.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        dsum("l_extendedprice").alias("part_value")
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .where(F.col("part_value") > 0.001 * F.col("_t"))
        .select("p_partkey", "part_value")
    )


@register(
    "tpch_q20_top_shippers",
    "relational",
    oracle=f"""
    WITH sp AS (SELECT p_partkey FROM part WHERE p_type = 'SMALL'),
    per_supp AS (
      SELECT l_suppkey, {dsum_sql('l_quantity')} AS shipped_qty
      FROM lineitem JOIN sp ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
    ),
    a AS (SELECT {davg_sql('shipped_qty')} AS _avg FROM per_supp)
    SELECT s_name, s_acctbal, n_name, shipped_qty
    FROM per_supp CROSS JOIN a
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA' AND shipped_qty > 1.25 * _avg
    """,
)
def q20_top_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted): AFRICA suppliers who shipped disproportionate
    volume of SMALL-type parts in 1997.  partsupp.ps_availqty's correlated
    threshold becomes "shipped quantity > 1.25x the per-supplier average" —
    a scale-free threshold preserving Q20's nested structure: part slice →
    per-supplier aggregate over the slice → scalar threshold → supplier
    semi-filter → nation/region dimension filter.  The part slice and the
    one-row average broadcast; the per-supplier aggregate is tiny (one row
    per supplier) so every join after the first groupBy is broadcast-side.
    The 1.25 multiplier is binary-exact and shipped_qty is a decimal-exact
    sum, so the threshold compare is deterministic."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    sp = _t(spark, sf_dir, "part").where(F.col("p_type") == "SMALL").select("p_partkey")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    per_supp = (
        li.join(F.broadcast(sp), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity").alias("shipped_qty"))
    )
    avg_q = per_supp.agg(
        (
            F.sum(F.col("shipped_qty").cast("decimal(38,6)")).cast("double")
            / F.count("shipped_qty")
        ).alias("_avg")
    )
    return (
        per_supp.crossJoin(F.broadcast(avg_q))
        .where(F.col("shipped_qty") > 1.25 * F.col("_avg"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_name", "s_acctbal", "n_name", "shipped_qty")
    )


@register(
    "tpch_q21_suppliers_kept_waiting",
    "relational",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                                 THEN l_suppkey END) AS n_late,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                      THEN l_suppkey END) AS late_supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM per_order
    JOIN supplier ON late_supp = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE n_late = 1 AND n_supp >= 2 AND r_name = 'EUROPE'
    GROUP BY s_name
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted): EUROPE suppliers who were the SOLE late shipper
    on a finished multi-supplier order ("late" = shipped >90 days after the
    order date; no l_commitdate/l_receiptdate exist).  The classic form is
    lineitem EXISTS-joined and NOT-EXISTS-joined against itself — two extra
    shuffles of the biggest table.  Here both quantifiers decorrelate into
    ONE per-order aggregate: distinct-supplier count (the EXISTS), distinct
    late-supplier count (=1 encodes the NOT EXISTS), and max-of-late-supp
    (well-defined because n_late = 1 pins it) — a single orderkey shuffle
    that would survive a 100x scale-up, with the supplier/nation/region
    filter applied to the tiny post-aggregate side."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    # collect_set instead of two count_distincts (r15, guide §2.3/§2.4):
    # multi-distinct aggregation plans an Expand that TRIPLES the joined
    # lineitem rows into the first exchange and needs a second orderkey
    # exchange after it; supplier sets per order are tiny (TPC-H bounds
    # suppliers-per-order at 7), so collecting them as sets aggregates
    # map-side and the whole per_order build is ONE narrow exchange with no
    # Expand (plan: 2 Exchange + Expand -> 1 Exchange; interleaved A/B at
    # sf0.1 quiet: 1.32 s -> 0.93 s, identical output).  size()/array_max()
    # over sets are order-independent, and collect_set drops the nulls the
    # CASE WHEN produces for on-time lines — exactly count(DISTINCT CASE)/
    # max(CASE) semantics (oracle SQL unchanged).
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("n_supp"),
            F.size(F.collect_set(F.when(late, F.col("l_suppkey")))).alias("n_late"),
            F.array_max(F.collect_set(F.when(late, F.col("l_suppkey")))).alias(
                "late_supp"
            ),
        )
    )
    return (
        per_order.where((F.col("n_late") == 1) & (F.col("n_supp") >= 2))
        .join(F.broadcast(s), F.col("late_supp") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
