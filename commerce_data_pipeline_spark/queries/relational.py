"""Relational core (SURVEY §2a/§2e): TPC-H-shape scan/filter/agg/join/sort/top-k/rollup/window queries plus bronze date discovery.

Mechanical split of queries.py (r10, VERDICT r9 directive #4); statement
text is unchanged — see the package __init__ docstring for the determinism
contract every query follows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.operators import dedup
from commerce_data_pipeline_spark.queries._shared import _dsum



# --------------------------------------------------------------------------
# Relational surface (SURVEY §2a/§2e): scan, project, filter, agg, join,
# semi/anti join, sort, top-k, distinct, rollup, window.
# --------------------------------------------------------------------------

def _q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: filter → groupBy → multi-agg. R2/R4/R7 + §2e aggs."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
            (_dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_O_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _q_top_revenue_nations(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join + agg. Dims broadcast (they are tiny
    at every scale factor); only lineitem⋈orders shuffles, on the join key."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(revenue).alias("revenue"))
    )


_O_TOP_REVENUE_NATIONS = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def _q_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join then count by priority."""
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    late = load_table(spark, sf, "lineitem").select("l_orderkey").distinct()
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_O_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
"""


def _q_top_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k over a join+agg: TakeOrderedAndProject, no global sort shuffle."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(_dsum(revenue).alias("revenue"))
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select(F.col("c_custkey"), F.col("c_name"), F.col("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


_O_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, revenue FROM (
  SELECT o_custkey,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
) r JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


def _q_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on BOTH join sides before the join
    (pushdown visible on each scan), then agg + top-k."""
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1997-06-01"))
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-06-01"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"))
        .agg(_dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_O_SHIPPING_PRIORITY = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def _q_nation_trade_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: the fact table joins TWO dimension paths (customer
    nation and supplier nation) — the classic snowflake double-join; both
    nation paths broadcast."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.cn_key)
        .join(F.broadcast(n2), s.s_nationkey == n2.sn_key)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(_dsum(revenue).alias("volume"), F.count(F.lit(1)).alias("n_lines"))
    )


_O_NATION_TRADE_VOLUME = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS volume,
  COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY cn.n_name, sn.n_name
"""


def _q_supplier_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute group,
    with a NOT-IN exclusion (suppliers in deficit) — left-anti join in
    DataFrame terms; lineitem acts as the part↔supplier bridge."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf, "part").filter(F.col("p_size").isin(1, 5, 9, 13, 17))
    excluded = load_table(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(excluded, on="l_suppkey", how="left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_O_SUPPLIER_DIVERSITY = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 5, 9, 13, 17)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


def _q_sort_topk_lineitems(spark: SparkSession, sf: str) -> DataFrame:
    """R5 sort + top-k with a unique composite key and explicit rank.

    orderBy+limit lowers to TakeOrderedAndProject (per-task k-row heaps);
    the rank window then runs over only the 100 surviving rows — the
    global window never sees the full table.
    """
    li = load_table(spark, sf, "lineitem")
    order = [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    top = li.select("l_orderkey", "l_linenumber", "l_extendedprice").orderBy(*order).limit(100)
    return top.withColumn("price_rank", F.row_number().over(Window.orderBy(*order)))


_O_SORT_TOPK_LINEITEMS = """
SELECT l_orderkey, l_linenumber, l_extendedprice,
  CAST(ROW_NUMBER() OVER (ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS INT) AS price_rank
FROM lineitem
QUALIFY price_rank <= 100
"""


def _q_distinct_ship_dates(spark: SparkSession, sf: str) -> DataFrame:
    """P4/P5 — date discovery: distinct, newest first, capped at 30."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.select(F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"))
        .distinct()
        .orderBy(F.desc("ship_day"))
        .limit(30)
    )


_O_DISTINCT_SHIP_DATES = """
SELECT DISTINCT strftime(l_shipdate, '%Y-%m-%d') AS ship_day
FROM lineitem ORDER BY ship_day DESC LIMIT 30
"""


def _q_date_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """P6 — gap detection as a left-anti join: order days with no shipment."""
    o = load_table(spark, sf, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).distinct()
    li = load_table(spark, sf, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("day")
    ).distinct()
    return o.join(li, on="day", how="left_anti")


_O_DATE_GAPS = """
SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS day FROM orders
EXCEPT
SELECT DISTINCT strftime(l_shipdate, '%Y-%m-%d') AS day FROM lineitem
"""


def _q_rollup_sales(spark: SparkSession, sf: str) -> DataFrame:
    """§2e grouping-sets surface: ROLLUP over (returnflag, linestatus)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty"))
    )


_O_ROLLUP_SALES = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q_cube_sales(spark: SparkSession, sf: str) -> DataFrame:
    """§2e grouping sets: full CUBE over (returnflag, linestatus) — all
    2^2 grouping combinations in one pass."""
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), _dsum(F.col("l_extendedprice")).alias("sum_price")
    )


_O_CUBE_SALES = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def _q_trailing_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """§2e window RANGE frame: 30-day trailing order total per customer —
    a value-based frame (rangeBetween on epoch days), not a row count."""
    o = load_table(spark, sf, "orders")
    days = F.floor(F.unix_micros(F.col("o_orderdate")) / (86400 * 1_000_000))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double").alias("trailing_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


_O_TRAILING_REVENUE = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS trailing_30d,
  COUNT(*) OVER w AS n_orders_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate) // 86400000000
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
"""


def _q_word_count(spark: SparkSession, sf: str) -> DataFrame:
    """§2e explode/unnest + agg: the canonical word count — top 20 corpus
    words. explode → partial-agg → exchange on word → TakeOrdered."""
    docs = load_table(spark, sf, "documents")
    words = F.split(dedup.normalized_text("text"), " ")
    return (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


_O_WORD_COUNT = """
SELECT word, COUNT(*) AS n FROM (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
)
GROUP BY word ORDER BY n DESC, word ASC LIMIT 20
"""


def _q_running_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """§2e window frame: per-customer running order total (cumulative sum).

    Cumulative DECIMAL sum is order-dependent-but-exact: with the window
    ordered on a unique key the prefix sums are identical on both engines.
    """
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double").alias("running_total"),
    )


_O_RUNNING_REVENUE = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
"""
