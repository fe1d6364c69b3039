"""TPC-H breadth pack II: Q5/Q7/Q8/Q10/Q14/Q17/Q19 (+Q12/Q16/Q21 r11).

The round-1..7 relational tier covered Q1/Q3/Q4/Q6/Q13/Q15/Q18/Q22;
this module closes the remaining TPC-H query shapes.  The driver
schema has no ``partsupp`` table and no
``l_shipmode/l_commitdate/l_receiptdate`` columns; since r11 ALL
remaining queries run on DETERMINISTICALLY DERIVED versions of those
(identical integer arithmetic in both engines): Q12/Q16/Q21 on the
derived shipping columns + partsupp keys (first section header below),
and Q2/Q9/Q11/Q20 on the derived partsupp ECONOMICS
(availqty/supplycost — second section header).  With these, every
TPC-H join shape Q1-Q22 has a catalog adaptation with an exact
oracle.
Each query follows the house
conventions: every computed column aliased identically in both
engines, money as EXACT INTEGERS end-to-end — per-row cents via
``floor(price*100+0.5)`` times the integer discount complement, so
revenue sums are 1e-4-dollar bigints whose value is independent of
aggregation order (a ``round(sum(double),2)`` emits a different last
digit across engines whenever a group's sum lands within an ULP of a
.005 boundary — observed on Q10's per-customer groups at sf0.01) —
deterministic tie-breaks on every rank, broadcast hints ONLY on the
genuinely bounded dims
(nation=25 rows, region=5 rows — customer/part/supplier grow with the
corpus, AQE decides for those; ADVICE r8).

Q17's correlated-average predicate is rewritten in cross-multiplied
integer-exact form: ``l_quantity < 0.2 * avg(l_quantity)`` ⇔
``5 * l_quantity * cnt < sum_qty`` (all quantities are integer-valued
doubles < 2^53, so both engines compare exactly — no float division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_dns_spark.plans.catalog import register
from spark_dns_spark.session import load_table


def _rev_e4() -> F.Column:
    """Exact integer revenue in 1e-4 dollar units: per-row cents times
    the integer discount complement — bit-identical in both engines
    under ANY aggregation order (sums never touch floats)."""
    return F.expr(
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
        " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
SELECT n_name,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4,
       count(*) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
    doc="TPC-H Q5: 6-way join whose distinguishing edge is the "
    "NON-equi-key customer-supplier co-nationality condition "
    "(c_nationkey = s_nationkey rides the l_suppkey join as a "
    "residual).  The fact table shuffles once per join key; nation "
    "and region are bounded dims (25/5 rows) and broadcast; the "
    "orderdate range reaches the orders scan as a pushed filter.",
    tags=("relational", "join", "bench"),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        cu.join(o, cu.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (cu.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        )
        .groupBy("n_name")
        .agg(
            F.sum(_rev_e4()).alias("revenue_e4"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q7_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume_e4) AS BIGINT) AS revenue_e4,
       count(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS volume_e4
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7: the nation table joins TWICE under different roles "
    "(supplier's nation n1, customer's nation n2) with a disjunctive "
    "cross-role predicate — both broadcast (25 rows each), so the "
    "pair filter evaluates map-side right after each fact join and "
    "prunes ~99% of rows before the yearly aggregate's shuffle.",
    tags=("relational", "join", "bench"),
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(cu, cu.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum(_rev_e4()).alias("revenue_e4"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q8_market_share",
    """
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume_e4
                ELSE 0 END) AS BIGINT) AS nation_volume_e4,
       CAST(sum(volume_e4) AS BIGINT) AS total_volume_e4,
       count(*) AS n_items
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS volume_e4,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
)
GROUP BY o_year
""",
    doc="TPC-H Q8: the 8-way market-share join (part+supplier+both "
    "nation roles+region).  The share is emitted as its two exact "
    "integer components (nation_volume_e4, total_volume_e4) instead "
    "of their quotient — a float division of two order-dependent sums "
    "is not bit-deterministic across engines, the integer components "
    "are.  Bounded dims broadcast; p_type reaches the "
    "part scan pushed.",
    tags=("relational", "join", "bench"),
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n1), cu.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _rev_e4().alias("volume_e4"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("volume_e4"))
            .otherwise(F.lit(0))
        ).alias("nation_volume_e4"),
        F.sum("volume_e4").alias("total_volume_e4"),
        F.count("*").alias("n_items"),
    )


@register(
    "tpch_q10_returned_items",
    """
SELECT c_custkey, c_name, n_name, revenue_e4, rk FROM (
  SELECT c_custkey, c_name, n_name,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4,
         ROW_NUMBER() OVER (
           ORDER BY sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) DESC,
                    c_custkey) AS rk
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    AND l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name
) WHERE rk <= 20
""",
    doc="TPC-H Q10: revenue lost to returns, top-20 customers.  "
    "Deterministic rank (revenue DESC, c_custkey — TPC-H's bare "
    "LIMIT 20 is tie-nondeterministic across engines); the returnflag "
    "and the 3-month orderdate window reach their scans pushed; the "
    "global top-20 window runs on the already-aggregated per-customer "
    "rows (WindowGroupLimit keeps the partial top-k map-side).",
    tags=("relational", "join", "window"),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    per_cust = (
        cu.join(o, cu.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_e4()).alias("revenue_e4"))
    )
    w = Window.orderBy(F.col("revenue_e4").desc(), F.col("c_custkey"))
    return (
        per_cust.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("c_custkey", "c_name", "n_name", "revenue_e4", "rk")
    )


@register(
    "tpch_q14_promo_revenue",
    """
SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
               ELSE 0 END) AS BIGINT) AS promo_revenue_e4,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS total_revenue_e4,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
""",
    doc="TPC-H Q14: promotion-revenue share over one shipping month — "
    "emitted as the two exact integer components (see tpch_q8).  One fact-dim join; the month window reaches the "
    "lineitem scan pushed, so the join input is ~1.5% of the fact.",
    tags=("relational", "join", "agg"),
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", _rev_e4()).otherwise(
                    F.lit(0)
                )
            ).alias("promo_revenue_e4"),
            F.sum(_rev_e4()).alias("total_revenue_e4"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q17_small_quantity_revenue",
    """
WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
     lb AS (SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN bp ON l_partkey = p_partkey),
     st AS (SELECT l_partkey, sum(l_quantity) AS sq, count(*) AS cq
            FROM lb GROUP BY l_partkey)
SELECT count(*) AS n_small,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS small_revenue_cents
FROM lb JOIN st USING (l_partkey)
WHERE 5 * l_quantity * cq < sq
""",
    doc="TPC-H Q17: correlated per-part average — the classic "
    "'quantity below 20% of this part's mean' predicate, decorrelated "
    "into one per-part aggregate joined back on l_partkey (no "
    "per-row re-execution).  The float division is eliminated: "
    "l_quantity < 0.2*avg ⇔ 5*l_quantity*cnt < sum (integer-valued "
    "doubles, exact in both engines).  Both the aggregate and the "
    "join shuffle on the SAME key, so the stats join is co-located.",
    tags=("relational", "join", "subquery"),
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lb = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    st = lb.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("sq"), F.count("*").alias("cq")
    )
    return (
        lb.join(st, "l_partkey")
        .filter(5 * F.col("l_quantity") * F.col("cq") < F.col("sq"))
        .agg(
            F.count("*").alias("n_small"),
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
                )
            ).alias("small_revenue_cents"),
        )
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4,
       count(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
    doc="TPC-H Q19: disjunctive mixed-table predicates (each branch "
    "constrains BOTH part and lineitem columns).  Catalyst extracts "
    "the per-table common factors — the brand/size disjunction is "
    "pushed to the part scan and the quantity range union to the "
    "lineitem scan — before the join evaluates the full residual; "
    "the aggregation is a single map-side-combinable global row.",
    tags=("relational", "join", "agg"),
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & (q >= 1) & (q <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & (q >= 10) & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & (q >= 20) & (q <= 30)
        )
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .filter(branch)
        .agg(
            F.sum(_rev_e4()).alias("revenue_e4"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 / Q16 / Q21 (r11, VERDICT r10 item 4): the three remaining TPC-H
# join shapes need columns/tables the driver schema omits
# (l_shipmode, l_commitdate, l_receiptdate, partsupp).  House
# deterministic-derivation convention: BOTH engines derive them from
# existing columns with identical integer arithmetic, so the oracle
# stays an exact cross-check at every scale factor —
#   l_shipmode    = MODES[(l_orderkey*31 + l_linenumber) % 7]
#   l_commitdate  = shipdate + ((l_orderkey*5 + l_linenumber*3) % 61 - 30) days
#   l_receiptdate = shipdate + (1 + (l_orderkey*7 + l_linenumber) % 30) days
#   partsupp      = SELECT DISTINCT (l_partkey, l_suppkey) FROM lineitem
# and Q16's comment-LIKE supplier exclusion (no s_comment column) is
# stood in by the deterministic s_suppkey % 13 = 0 subset.
# ---------------------------------------------------------------------------

SHIP_MODES = ("MAIL", "SHIP", "AIR", "RAIL", "TRUCK", "FOB", "REG AIR")

#: SQL twin of :func:`_li_ext` — splice into each oracle's WITH clause.
_LI_EXT_CTE = """
li AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_shipdate,
         CASE CAST((l_orderkey*31 + l_linenumber) % 7 AS INT)
           WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
           WHEN 3 THEN 'RAIL' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'FOB'
           ELSE 'REG AIR' END AS l_shipmode,
         CAST(l_shipdate AS DATE)
           + (CAST((l_orderkey*5 + l_linenumber*3) % 61 AS INT) - 30)
           AS l_commitdate,
         CAST(l_shipdate AS DATE)
           + (1 + CAST((l_orderkey*7 + l_linenumber) % 30 AS INT))
           AS l_receiptdate
  FROM lineitem)"""


def _li_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + the three derived shipping columns (see header note).
    All index arithmetic is BIGINT on positive keys — `%` agrees across
    engines; date_add on a DATE cast keeps both sides in whole days."""
    li = load_table(spark, sf_dir, "lineitem")
    idx = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 7
    modes = F.array(*[F.lit(m) for m in SHIP_MODES])
    return (
        li.withColumn(
            "l_shipmode", F.element_at(modes, (idx + 1).cast("int"))
        )
        .withColumn(
            "l_commitdate",
            F.expr(
                "date_add(CAST(l_shipdate AS DATE), "
                "CAST((l_orderkey*5 + l_linenumber*3) % 61 AS INT) - 30)"
            ),
        )
        .withColumn(
            "l_receiptdate",
            F.expr(
                "date_add(CAST(l_shipdate AS DATE), "
                "1 + CAST((l_orderkey*7 + l_linenumber) % 30 AS INT))"
            ),
        )
    )


@register(
    "tpch_q12_shipmode_priority",
    f"""
WITH {_LI_EXT_CTE}
SELECT l_shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN li ON l_orderkey = o_orderkey
WHERE l_shipmode IN ('MAIL','SHIP')
  AND l_commitdate < l_receiptdate
  AND CAST(l_shipdate AS DATE) < l_commitdate
  AND l_receiptdate >= DATE '1997-01-01'
  AND l_receiptdate <  DATE '1998-01-01'
GROUP BY l_shipmode
""",
    doc="TPC-H Q12: late-shipment CASE aggregation by ship mode.  The "
    "mode/date predicates are all single-table and reach the lineitem "
    "side before the orders join (only ~2/7 of lines survive the mode "
    "filter); the join shuffles on orderkey and the two-group CASE agg "
    "is map-side combinable.  Derived-column provenance in the module "
    "header — both engines compute identical integer day offsets.",
    tags=("relational", "join", "agg", "bench"),
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_ext(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    sel = li.filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate").cast("date") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_receiptdate") < F.lit("1998-01-01").cast("date"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(sel, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q16_supplier_part_counts",
    """
WITH partsupp AS (
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
  FROM lineitem)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#15'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
GROUP BY p_brand, p_type, p_size
""",
    doc="TPC-H Q16: count-distinct suppliers per part group with a "
    "NOT-IN supplier exclusion.  partsupp is the deterministic "
    "DISTINCT (partkey, suppkey) projection of lineitem (module "
    "header); the NOT IN becomes a broadcast LEFT ANTI against the "
    "excluded-supplier subset (bounded: 1/13 of suppliers), the "
    "part filters push to the part scan, and the count-distinct "
    "agg shuffles once on the bounded group key space.",
    tags=("relational", "join", "agg", "distinct"),
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#15")
        & ~F.col("p_type").startswith("MEDIUM")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 13 == 0
    ).select("s_suppkey")
    ps = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    return (
        ps.join(
            F.broadcast(excluded),
            ps.ps_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .join(p, p.p_partkey == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q21_waiting_suppliers",
    f"""
WITH {_LI_EXT_CTE}
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier
JOIN li l1  ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_receiptdate > l1.l_commitdate
  AND n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_receiptdate > l3.l_commitdate)
GROUP BY s_name
""",
    doc="TPC-H Q21: suppliers who were the SOLE late supplier on a "
    "multi-supplier order.  The oracle keeps the textbook "
    "EXISTS / NOT-EXISTS pair; the Spark plan uses the scale-friendly "
    "algebraic equivalent — one per-order aggregate "
    "(distinct suppliers >= 2 AND distinct LATE suppliers == 1) "
    "joined back to the late lines — turning two non-equi self-joins "
    "into one shuffle-on-orderkey agg + one equi join, the same "
    "rewrite engines apply for scalar-correlated EXISTS.  An l1 line "
    "surviving the join IS the unique late supplier's, so the two "
    "formulations agree line-for-line.  nation is a broadcast dim; "
    "count(*) per s_name is map-side combinable.",
    tags=("relational", "join", "semi", "anti", "agg"),
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_ext(spark, sf_dir).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_receiptdate") > F.col("l_commitdate")).alias("is_late"),
    )
    ostats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    sole = ostats.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    ).select("l_orderkey")
    o_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    return (
        li.filter(F.col("is_late"))
        .join(sole, "l_orderkey")
        .join(o_f, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, s.s_suppkey == F.col("l_suppkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q2 / Q9 / Q11 / Q20 (r11 continuation): the partsupp-ECONOMICS
# queries, completing all 22 TPC-H shapes.  The derived partsupp keys
# (header note above) gain deterministic economics — identical integer
# arithmetic in both engines:
#   ps_availqty       = (ps_partkey*13 + ps_suppkey*7)  % 9999 + 1
#   ps_supplycost_e4  = (ps_partkey*31 + ps_suppkey*17) % 90000 + 10000
# (supply cost in the house 1e-4-dollar units: $1.0000-$9.9999).
# ---------------------------------------------------------------------------

_PS_CTE = """
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 13 + ps_suppkey * 7) % 9999 + 1 AS ps_availqty,
         (ps_partkey * 31 + ps_suppkey * 17) % 90000 + 10000
           AS ps_supplycost_e4
  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                        l_suppkey AS ps_suppkey FROM lineitem))"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp with economics (module section header)."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    return ps.withColumn(
        "ps_availqty",
        (F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7) % 9999 + 1,
    ).withColumn(
        "ps_supplycost_e4",
        (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 90000
        + 10000,
    )


@register(
    "tpch_q2_min_cost_supplier",
    f"""
WITH {_PS_CTE},
elig AS MATERIALIZED (
  -- two consumers (min agg + join-back); without the hint DuckDB
  -- re-evaluates the partsupp distinct per consumer
  SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_e4,
         s.s_acctbal, s.s_name, n.n_name
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE')
SELECT e.s_acctbal, e.s_name, e.n_name, e.ps_partkey AS p_partkey,
       p.p_brand, e.ps_supplycost_e4
FROM elig e
JOIN part p ON p.p_partkey = e.ps_partkey
JOIN (SELECT ps_partkey, min(ps_supplycost_e4) AS mn
      FROM elig GROUP BY ps_partkey) m
  ON m.ps_partkey = e.ps_partkey AND e.ps_supplycost_e4 = m.mn
WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type IN ('LARGE', 'STANDARD')
""",
    doc="TPC-H Q2: minimum-cost supplier per part within a region — "
    "the correlated-scalar-MIN shape, decorrelated the way engines do "
    "it: one grouped MIN over the eligible (partsupp x supplier x "
    "region) relation joined back on (partkey, cost = min).  The "
    "eligible relation is persisted (two consumers — the fan-out "
    "lesson); nation/region broadcast; the part filters push to the "
    "part scan.  s_acctbal is a raw-column pass-through (no float "
    "arithmetic), so the double survives hash equality",
    tags=("relational", "join", "agg", "subquery"),
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20)
        & F.col("p_type").isin("LARGE", "STANDARD")
    )
    elig = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "ps_partkey", "ps_supplycost_e4", "s_acctbal", "s_name",
            "n_name",
        )
        .persist()
    )
    mins = elig.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_e4").alias("mn")
    ).withColumnRenamed("ps_partkey", "mn_partkey")
    return (
        elig.join(
            mins,
            (F.col("ps_partkey") == F.col("mn_partkey"))
            & (F.col("ps_supplycost_e4") == F.col("mn")),
        )
        .join(p, F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            "ps_supplycost_e4",
        )
    )


@register(
    "tpch_q9_product_type_profit",
    f"""
WITH {_PS_CTE}
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                - ps_supplycost_e4 * CAST(l_quantity AS BIGINT))
            AS BIGINT) AS profit_e4,
       count(*) AS n_items
FROM part, supplier, lineitem, partsupp, orders, nation
WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
  AND ps_partkey = l_partkey AND p_partkey = l_partkey
  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%red%'
GROUP BY n_name, o_year
""",
    doc="TPC-H Q9: product-type profit by nation and year — the "
    "6-way join with a COMPOUND key edge (lineitem joins partsupp on "
    "(partkey, suppkey) together).  Profit stays integer end-to-end: "
    "revenue in e4 units minus supplycost_e4 x integer quantity.  The "
    "p_name LIKE filter pushes to the part scan and prunes the fact "
    "rows before the partsupp join; nation broadcasts",
    tags=("relational", "join", "agg", "bench"),
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = _rev_e4() - F.col("ps_supplycost_e4") * F.col(
        "l_quantity"
    ).cast("bigint")
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(
            ps,
            (ps.ps_partkey == li.l_partkey)
            & (ps.ps_suppkey == li.l_suppkey),
        )
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            F.sum(amount).alias("profit_e4"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q11_important_stock",
    f"""
WITH {_PS_CTE},
pv AS (
  SELECT ps_partkey,
         CAST(sum(ps_supplycost_e4 * ps_availqty) AS BIGINT) AS value_e4
  FROM partsupp, supplier, nation
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_7'
  GROUP BY ps_partkey),
tot AS (SELECT CAST(sum(value_e4) AS BIGINT) AS t FROM pv)
SELECT ps_partkey, value_e4 FROM pv, tot WHERE value_e4 * 1000 > t
""",
    doc="TPC-H Q11: important stock — per-part inventory value within "
    "one nation, HAVING above a fraction of the GLOBAL total.  The "
    "global scalar is a 1-row aggregate cross-joined (broadcast) onto "
    "the per-part relation — the whitelisted single-row-broadcast "
    "class — and the threshold compare is pure integer "
    "(value x 1000 > total, no float fraction)",
    tags=("relational", "join", "agg", "subquery"),
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    pv = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_e4") * F.col("ps_availqty")
            ).alias("value_e4")
        )
    )
    tot = pv.agg(F.sum("value_e4").alias("t"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_e4") * 1000 > F.col("t"))
        .select("ps_partkey", "value_e4")
    )


@register(
    "tpch_q20_potential_promotion",
    f"""
WITH {_PS_CTE}
SELECT s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (
    SELECT ps_suppkey FROM partsupp
    WHERE ps_partkey IN (SELECT p_partkey FROM part
                         WHERE p_name LIKE 'red%')
      AND 2 * ps_availqty > (
        SELECT COALESCE(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT),
                        0)
        FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'))
""",
    doc="TPC-H Q20: potential part promotion — the DOUBLE-NESTED semi "
    "join with a correlated per-(part,supplier) shipped-quantity "
    "threshold.  The Spark plan decorrelates: one grouped sum over the "
    "date-filtered lineitem LEFT-joined to the part-filtered partsupp "
    "(absent pairs coalesce to 0 shipped), integer threshold "
    "2 x availqty > shipped, then a semi join onto the one-nation "
    "supplier dim.  The oracle keeps the textbook nested-IN "
    "formulation as an independent cross-check",
    tags=("relational", "join", "semi", "subquery"),
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    p_red = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    shipped = (
        li.filter(
            (F.col("l_shipdate")
             >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
    )
    cand = (
        ps.join(p_red, ps.ps_partkey == F.col("p_partkey"), "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
            "left",
        )
        .filter(
            2 * F.col("ps_availqty") > F.coalesce(F.col("qty"), F.lit(0))
        )
        .select("ps_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_5"
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(cand, s.s_suppkey == cand.ps_suppkey, "left_semi")
        .select("s_name", "n_name")
    )
