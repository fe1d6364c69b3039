"""Relational coverage queries — joins/aggregations/windows/set-ops that
the reference delegates to Catalyst above its scan (SURVEY.md §2.3,
§2.4 "Not implemented" row, §2.7).  A user of the reference runs these
over the connector's output; our engine must execute them well.

Scale notes: dimension joins are explicitly ``broadcast()`` (region,
nation, supplier, part at any SF; customer/orders at test SF are left
to Catalyst/AQE which picks broadcast under the 10 MB default).  Aggs
use built-in functions only → whole-stage codegen, partial map-side
combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_dns_spark.plans.catalog import register
from spark_dns_spark.session import load_table


@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 shape: scan-side filter pushdown + 8-agg groupBy",
    tags=("relational", "agg", "bench"),
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    """
SELECT n_name, r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
""",
    doc="TPC-H Q5 shape: 5-way star join; dims broadcast, fact shuffled once",
    tags=("relational", "join", "bench"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "top_customers_per_nation",
    """
SELECT n_name, c_name, spent, rk FROM (
  SELECT n_name, c_name,
         round(sum(o_totalprice), 2) AS spent,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY round(sum(o_totalprice), 2) DESC,
                                     c_name) AS rk
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, c_name
) WHERE rk <= 5
""",
    doc="top-k per group: agg then rank window, deterministic tie-break",
    tags=("relational", "window"),
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    agg = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spent"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("spent").desc(), F.col("c_name"))
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("n_name", "c_name", "spent", "rk")
    )


@register(
    "parts_without_orders",
    """
SELECT p_brand, count(*) AS n_parts
FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 48)
GROUP BY p_brand
""",
    doc="anti-join (NOT EXISTS) + agg: parts never ordered in bulk",
    tags=("relational", "join"),
)
def parts_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


@register(
    "active_suppliers_semi",
    """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 49
)
""",
    doc="semi-join (EXISTS) with pushed-down filter on the probe side",
    tags=("relational", "join"),
)
def active_suppliers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@register(
    "order_priority_rollup",
    """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="grouping-sets rollup (Catalyst-supplied; absent in reference §2.4)",
    tags=("relational", "agg"),
)
def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@register(
    "segment_union_distinct",
    """
SELECT c_mktsegment AS segment FROM customer WHERE c_acctbal > 5000
UNION
SELECT o_orderpriority AS segment FROM orders WHERE o_totalprice > 100000
""",
    doc="set op: UNION DISTINCT across heterogeneous projections (§2.7)",
    tags=("relational", "set"),
)
def segment_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_mktsegment").alias("segment")
    )
    b = orders.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_orderpriority").alias("segment")
    )
    return a.union(b).distinct()


@register(
    "lineitem_running_window",
    """
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(sum(l_quantity) OVER (
         PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
       lag(l_orderkey) OVER (
         PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
       ) AS prev_order
FROM lineitem
WHERE l_suppkey <= 10
""",
    doc="frame-spec window (running sum) + lag — §2.5 gap in reference, "
    "built-in here",
    tags=("relational", "window"),
)
def lineitem_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_qty"),
        F.lag("l_orderkey").over(w).alias("prev_order"),
    )


@register(
    "approx_distinct_parts",
    """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       count(DISTINCT l_suppkey) AS exact_supps
FROM lineitem GROUP BY l_returnflag
""",
    doc="count-distinct per group (exact; approx_count_distinct exercised "
    "in tests where sketches need no cross-engine oracle)",
    tags=("relational", "agg"),
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
    )


@register(
    "lineitem_cube",
    """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="CUBE over (returnflag, linestatus) with grouping_id — the full "
    "2^k aggregation lattice in one pass (§2.4 grouping-sets family)",
    tags=("relational", "agg", "cube"),
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "orders_grouping_sets",
    """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    doc="explicit GROUPING SETS (status) / (priority) / (grand total) "
    "via the SQL surface — one shuffle, no self-union",
    tags=("relational", "agg", "grouping-sets"),
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping_id(o_orderstatus, o_orderpriority) AS gid,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "lineitem_percentiles",
    """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
       round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price
FROM lineitem GROUP BY l_returnflag
""",
    doc="exact interpolated percentiles per group (Spark percentile == "
    "DuckDB quantile_cont, both linear-interpolation); the sketch "
    "variant (approx_percentile/t-digest) swaps in one function call "
    "at 100 TB",
    tags=("relational", "agg", "percentile"),
)
def lineitem_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.95)"), 4).alias("p95_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
    )


@register(
    "tpch_q6_forecast_revenue",
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 shape: pure filter+agg whose three predicates all push "
    "into the parquet scan (the pushdown showcase; see "
    "tests/test_plan_shapes.py for the PushedFilters assertion)",
    tags=("relational", "tpch"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective dim filter broadcast into a 3-table "
    "star join, grouped revenue, deterministic top-k",
    tags=("relational", "tpch", "join"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-03-15"
    )
    # customer (selective dim filter) broadcasts; orders stays on the
    # shuffle side — it is a fact table at scale, and its own filter
    # halves it before the join anyway
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "segment_intersect_except",
    """
SELECT 'intersect' AS op, seg FROM (
  SELECT c_mktsegment AS seg FROM customer WHERE c_acctbal > 5000
  INTERSECT
  SELECT c_mktsegment AS seg FROM customer WHERE c_acctbal < 1000
)
UNION ALL
SELECT 'except' AS op, seg FROM (
  SELECT o_orderpriority AS seg FROM orders WHERE o_totalprice > 100000
  EXCEPT
  SELECT o_orderpriority AS seg FROM orders WHERE o_orderstatus = 'F'
)
""",
    doc="set-op breadth (§2.7): INTERSECT and EXCEPT (distinct "
    "semantics) in one tagged result",
    tags=("relational", "set"),
)
def segment_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    inter = (
        cust.filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_mktsegment").alias("seg"))
        .intersect(
            cust.filter(F.col("c_acctbal") < 1000).select(
                F.col("c_mktsegment").alias("seg")
            )
        )
    )
    # subtract = SQL EXCEPT (set difference); exceptAll would be the
    # multiset variant and keep rows whose occurrence count exceeds the
    # right side's
    exc = (
        orders.filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_orderpriority").alias("seg"))
        .subtract(
            orders.filter(F.col("o_orderstatus") == "F").select(
                F.col("o_orderpriority").alias("seg")
            )
        )
    )
    return inter.select(F.lit("intersect").alias("op"), "seg").unionByName(
        exc.select(F.lit("except").alias("op"), "seg")
    )


@register(
    "customers_order_stats_left",
    """
SELECT c_mktsegment,
       count(DISTINCT c_custkey) AS n_customers,
       count(o_orderkey) AS n_orders,
       count(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END)
         AS n_orderless
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
""",
    doc="left-outer join with null-aware aggregation: customers without "
    "orders survive the join as null-extended rows and are counted "
    "separately — the outer-join tier of the §2.3 join family",
    tags=("relational", "join", "outer"),
)
def customers_order_stats_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return j.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").alias("n_customers"),
        F.count("o_orderkey").alias("n_orders"),
        F.countDistinct(
            F.when(F.col("o_orderkey").isNull(), F.col("c_custkey"))
        ).alias("n_orderless"),
    )


@register(
    "orders_pivot_status",
    """
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'O')::BIGINT AS o_cnt,
       count(*) FILTER (o_orderstatus = 'F')::BIGINT AS f_cnt,
       count(*) FILTER (o_orderstatus = 'P')::BIGINT AS p_cnt,
       coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                FILTER (o_orderstatus = 'O'), 0)::BIGINT AS o_cents,
       coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                FILTER (o_orderstatus = 'F'), 0)::BIGINT AS f_cents,
       coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                FILTER (o_orderstatus = 'P'), 0)::BIGINT AS p_cents
FROM orders GROUP BY o_orderpriority
""",
    doc="pivot (long->wide reshape): order counts and integer-cent "
    "revenue per priority, one column pair per order status.  Spark's "
    "pivot with an EXPLICIT value list stays a single hash aggregate "
    "(no extra distinct-values job, map-side combinable — the only "
    "pivot formulation that survives 100 TB); oracle is the equivalent "
    "FILTER aggregation",
    tags=("relational", "pivot"),
)
def orders_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    piv = (
        orders.withColumn("cents", cents)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("cents"),
        )
    )
    # a (priority, status) cell with no rows pivots to NULL; the oracle's
    # FILTER aggregation says 0 — coalesce at the projection, not the agg
    zero = lambda c: F.coalesce(F.col(c), F.lit(0).cast("long"))  # noqa: E731
    return piv.select(
        "o_orderpriority",
        zero("O_cnt").alias("o_cnt"),
        zero("F_cnt").alias("f_cnt"),
        zero("P_cnt").alias("p_cnt"),
        zero("O_cents").alias("o_cents"),
        zero("F_cents").alias("f_cents"),
        zero("P_cents").alias("p_cents"),
    )


@register(
    "tpch_q4_order_priority",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape: correlated EXISTS whose inner predicate "
    "references an OUTER column (l_shipdate > o_orderdate + 60d) — "
    "planned as one LEFT SEMI shuffle join on l_orderkey with the "
    "correlated inequality as a join residual; no subquery "
    "re-execution per row, no driver round trips.  At 100 TB both "
    "sides shuffle once on the same key and the semi join emits at "
    "most one row per order.",
    tags=("relational", "join", "subquery"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & late,
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q13_order_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
    doc="TPC-H Q13 shape: distribution-of-distributions.  The filter "
    "lives in the OUTER JOIN's ON clause (not WHERE — that would drop "
    "zero-order customers), then two aggregation levels: per-customer "
    "count over the join, then a count of customers per count value.  "
    "The second agg's input is one row per customer and its key "
    "cardinality is tiny, so the only real shuffle is the first.",
    tags=("relational", "join", "agg"),
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = customer.join(
        orders,
        (customer.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q18_large_orders",
    """
SELECT c_name, o_orderkey,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
       CAST(sum_qty AS BIGINT) AS sum_qty
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 300
) big ON o_orderkey = big.l_orderkey
""",
    doc="TPC-H Q18 shape: IN-subquery-with-HAVING.  The quantity "
    "aggregate runs FIRST (map-side combinable, one shuffle on "
    "l_orderkey) and its HAVING output is a tiny key set, so Spark "
    "broadcast-joins it into orders instead of semi-shuffling the "
    "fact table twice; quantities are integer-valued doubles, summed "
    "then cast so both engines compare exact BIGINTs.",
    tags=("relational", "join", "subquery"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("total_cents"),
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
    )


@register(
    "tpch_q22_idle_rich_customers",
    """
SELECT c_mktsegment, count(*) AS numcust,
       CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS bal_cents
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c_mktsegment
""",
    doc="TPC-H Q22 shape (phone prefix swapped for a recency "
    "predicate): scalar aggregate subquery + NOT EXISTS anti-join, "
    "run through ``spark.sql`` — Catalyst plans the uncorrelated "
    "scalar as a separately-executed ScalarSubquery folded into the "
    "scan filter (no join at all for the average; a DataFrame-side "
    "1-row crossJoin would plan a BroadcastNestedLoopJoin instead), "
    "and NOT EXISTS becomes a single left-anti join against the "
    "recency-prefiltered orders side.",
    tags=("relational", "join", "subquery"),
)
def tpch_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q22_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q22_orders")
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS numcust,
               sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS bal_cents
        FROM q22_customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM q22_customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM q22_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY c_mktsegment
        """
    )


@register(
    "tpch_q15_top_supplier",
    """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000, 0)
                       AS BIGINT)) AS BIGINT) AS rev_milli
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, rev_milli
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE rev_milli = (SELECT max(rev_milli) FROM rev)
""",
    doc="TPC-H Q15 shape: aggregate view + scalar MAX subquery over "
    "it.  Revenue is accumulated in integer milli-units (per-row "
    "round, then BIGINT sum) so the max comparison — which selects "
    "ROWS, not just values — is exact and summation-order-proof in "
    "both engines.  The view is computed once and reused for both the "
    "max (1-row broadcast) and the equality filter; supplier is a "
    "broadcast dim.",
    tags=("relational", "join", "subquery"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000, 0
                ).cast("long")
            ).alias("rev_milli")
        )
        # the view feeds BOTH the scalar max and the equality filter —
        # persist so lineitem is scanned/aggregated once, not twice
        # (released by the catalog's release_all_caches safety net)
        .persist()
    )
    top = rev.agg(F.max("rev_milli").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("rev_milli") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "rev_milli")
    )


@register(
    "orders_retention_cohorts",
    """
WITH firsts AS (
  SELECT o_custkey,
         -- DuckDB demotes month-granularity date_trunc to DATE; Spark's
         -- stays TIMESTAMP — cast so both engines emit the same type
         CAST(min(date_trunc('month', o_orderdate)) AS TIMESTAMP) AS cohort
  FROM orders GROUP BY o_custkey
)
SELECT cohort,
       CAST((year(date_trunc('month', o_orderdate)) - year(cohort)) * 12
            + (month(date_trunc('month', o_orderdate)) - month(cohort))
            AS BIGINT) AS months_since,
       count(DISTINCT o.o_custkey) AS active_customers,
       count(*) AS orders
FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
GROUP BY 1, 2
""",
    doc="retention cohort analysis: customers bucketed by first-order "
    "month, activity counted per (cohort, months-since) cell — the "
    "standard product-analytics reshape.  Two aggregation levels: the "
    "per-customer min is map-side combinable on o_custkey, re-joins "
    "the fact on the same key (co-located at scale, AQE-broadcast at "
    "test SF), and the cohort-cell agg's key space is months², so "
    "only the first shuffle moves data; month arithmetic is integer "
    "(year*12+month) in both engines",
    tags=("relational", "agg", "window"),
)
def orders_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    firsts = (
        orders.groupBy("o_custkey")
        .agg(F.min(F.date_trunc("month", "o_orderdate")).alias("cohort"))
    )
    j = orders.join(firsts, "o_custkey")
    om = F.date_trunc("month", F.col("o_orderdate"))
    months_since = (
        (F.year(om) - F.year("cohort")) * 12
        + (F.month(om) - F.month("cohort"))
    ).cast("long")
    return (
        j.groupBy("cohort", months_since.alias("months_since"))
        .agg(
            F.countDistinct("o_custkey").alias("active_customers"),
            F.count("*").alias("orders"),
        )
    )


@register(
    "lineitem_unpivot_metrics",
    """
WITH u AS (
  UNPIVOT (
    SELECT l_orderkey,
           CAST(floor(l_quantity * 1000 + 0.5) AS BIGINT) AS quantity,
           CAST(floor(l_extendedprice * 1000 + 0.5) AS BIGINT)
             AS extendedprice,
           CAST(floor(l_discount * 1000 + 0.5) AS BIGINT) AS discount,
           CAST(floor(l_tax * 1000 + 0.5) AS BIGINT) AS tax
    FROM lineitem
  ) ON quantity, extendedprice, discount, tax
  INTO NAME metric VALUE v_milli
)
SELECT metric, count(*)::BIGINT AS n,
       sum(v_milli)::BIGINT AS sum_milli,
       min(v_milli) AS min_milli, max(v_milli) AS max_milli
FROM u GROUP BY metric
""",
    doc="unpivot/melt — the wide-to-long reshape completing the pivot "
    "family (orders_pivot_status covers long-to-wide): four lineitem "
    "measures melt to (metric, value) rows via the native unpivot "
    "operator (a map-only 4x row expansion inside the scan stage, no "
    "shuffle until the 4-key aggregate), all values in exact milli-int "
    "units",
    tags=("relational", "reshape", "agg"),
)
def lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    milli = lambda c: F.floor(F.col(c) * 1000 + F.lit(0.5)).cast("long")  # noqa: E731
    wide = li.select(
        "l_orderkey",
        milli("l_quantity").alias("quantity"),
        milli("l_extendedprice").alias("extendedprice"),
        milli("l_discount").alias("discount"),
        milli("l_tax").alias("tax"),
    )
    long = wide.unpivot(
        ids=["l_orderkey"],
        values=["quantity", "extendedprice", "discount", "tax"],
        variableColumnName="metric",
        valueColumnName="v_milli",
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.sum("v_milli").alias("sum_milli"),
        F.min("v_milli").alias("min_milli"),
        F.max("v_milli").alias("max_milli"),
    )
