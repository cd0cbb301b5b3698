"""Relational widening (r2): Q2/Q8/Q9/Q10/Q11/Q13/Q14/Q17/Q18/Q19/Q22 shapes on the available schema + RFM segmentation.

Mechanical split of queries.py (r10, VERDICT r9 directive #4); statement
text is unchanged — see the package __init__ docstring for the determinism
contract every query follows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.queries._shared import _dsum
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint



# --------------------------------------------------------------------------
# Round-2 relational widening: Q9/Q2/Q11/Q22 shapes through the lineitem
# part↔supplier bridge (the schema has no partsupp table; p_retailprice
# stands in for supply cost), plus RFM segmentation on the commerce side.
# --------------------------------------------------------------------------

def _q_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: a name-filtered part dim plus the supplier→nation
    snowflake AND the orders date dim all meet on the fact table. All three
    dims broadcast; the only shuffle is lineitem⋈orders on the join key,
    then the group-by. Profit uses p_retailprice as the cost proxy."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_name").contains("bolt"))
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.6
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(profit).alias("sum_profit"), F.count(F.lit(1)).alias("n_lines"))
    )


_O_PRODUCT_PROFIT = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.6
      AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit,
  COUNT(*) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(o_orderdate)
"""


def _q_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: groupwise ARGMIN with a join-back — for each sizable
    part, the supplier with the lowest average sale price (ties break on
    s_suppkey). The window partitions by part over already-AGGREGATED rows
    (one per part×supplier), so no task ever sees more than one part's
    group — nothing global anywhere."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_size") >= 20)
    s = load_table(spark, sf, "supplier")
    # Broadcast-semi-join the qualifying part keys into lineitem BEFORE the
    # (partkey, suppkey) aggregate: the p_size filter prunes the fact-table
    # shuffle to qualifying parts only, instead of aggregating ALL of
    # lineitem and discarding most groups at the join (r3 judge note — at
    # 100× the unpruned aggregate shuffles the full fact table).
    qualifying = li.join(
        F.broadcast(p.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    pa = qualifying.groupBy("l_partkey", "l_suppkey").agg(
        (_dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price")
    )
    w = Window.partitionBy("l_partkey").orderBy(F.asc("avg_price"), F.asc("l_suppkey"))
    best = pa.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("avg_price").alias("min_avg_price"),
        )
        .orderBy(F.desc("min_avg_price"), F.asc("p_partkey"))
        .limit(100)
    )


_O_MIN_COST_SUPPLIER = """
WITH pa AS (
  SELECT l_partkey, l_suppkey,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY l_partkey ORDER BY avg_price ASC, l_suppkey ASC) AS rn
  FROM pa
)
SELECT p_partkey, p_name, s_name, avg_price AS min_avg_price
FROM best
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1 AND p_size >= 20
ORDER BY min_avg_price DESC, p_partkey ASC
LIMIT 100
"""


def _q_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a GLOBAL scalar — parts whose
    revenue exceeds a fraction of total revenue. The denominator is a
    cross-joined 1-row scalar aggregate composed into the same lazy plan
    (no separate count/collect action, no unpartitioned window)."""
    li = load_table(spark, sf, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(_dsum(revenue).alias("part_value"))
    thr = li.agg((_dsum(revenue) * 0.0006).alias("_thr"))
    return (
        per_part.crossJoin(thr)
        .filter(F.col("part_value") > F.col("_thr"))
        .select("l_partkey", "part_value")
    )


_O_IMPORTANT_PARTS = """
SELECT l_partkey,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) > (
  SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) * 0.0006
  FROM lineitem
)
"""


def _q_idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS — customers
    with above-average positive balance and no RECENT orders (none since
    2000-08-01), summarized per market segment. The anti-join's right side
    filters before the join (pushdown) and carries only custkeys; the
    threshold is a broadcast 1-row aggregate."""
    c = load_table(spark, sf, "customer")
    o = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-08-01"))
        .select("o_custkey")
    )
    thr = c.filter(F.col("c_acctbal") > 0).agg(
        (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("_thr")
    )
    rich = c.crossJoin(thr).filter(F.col("c_acctbal") > F.col("_thr"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        _dsum(F.col("c_acctbal")).alias("totacctbal"),
    )


_O_IDLE_RICH_CUSTOMERS = """
SELECT c_mktsegment, COUNT(*) AS numcust,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-08-01')
GROUP BY c_mktsegment
"""


def _q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """G-family widening: RFM (recency/frequency/monetary) segmentation.

    Quartile assignment uses EXACT percentile CUTOFFS (3 values per
    metric, a 1-row broadcast) instead of ntile — ntile needs a global
    total order (single-partition sort, the 100 TB killer); comparing
    against broadcast cutoffs is map-side. Cutoffs are rounded to 6
    decimals so both engines interpolate to the identical boundary."""
    o = load_table(spark, sf, "orders")
    # ONE orders pass (r18): the cutoffs subtree and the quartile select
    # both consume this frame, and the global max date is the max of the
    # per-customer maxes (GROUP BY drops no order), so the separate
    # corpus-wide gmax aggregation and the duplicated per-customer
    # aggregation (scan pattern 3+1+3+1 in the r17 plan audit) collapse
    # into one materialized customer-sized frame.
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        _dsum(F.col("o_totalprice")).alias("monetary"),
    ).transform(_checkpoint, eager=False)
    gmax = per_cust.agg(F.max("_last").alias("_gmax"))
    rfm = per_cust.crossJoin(gmax).withColumn(
        "recency_days", F.datediff("_gmax", "_last")
    )
    def _pct(col, p):
        return F.round(F.percentile(col, F.lit(p)), 6)
    cuts = rfm.agg(
        *[_pct("recency_days", p).alias(f"_r{i}") for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))],
        *[_pct("frequency", p).alias(f"_f{i}") for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))],
        *[_pct("monetary", p).alias(f"_m{i}") for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))],
    )
    def _quart(col, c1, c2, c3):
        return (
            F.when(F.col(col) <= F.col(c1), 1)
            .when(F.col(col) <= F.col(c2), 2)
            .when(F.col(col) <= F.col(c3), 3)
            .otherwise(4)
        )
    seg = rfm.crossJoin(cuts).select(
        _quart("recency_days", "_r1", "_r2", "_r3").alias("r_quartile"),
        _quart("frequency", "_f1", "_f2", "_f3").alias("f_quartile"),
        _quart("monetary", "_m1", "_m2", "_m3").alias("m_quartile"),
        F.col("monetary"),
    )
    return seg.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (_dsum(F.col("monetary")) / F.count(F.lit(1))).alias("avg_monetary"),
    )


_O_RFM_SEGMENTS = """
WITH per_cust AS (
  SELECT o_custkey,
    MAX(o_orderdate) AS _last,
    COUNT(*) AS frequency,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
), rfm AS (
  SELECT *, CAST(date_diff('day', _last, (SELECT MAX(o_orderdate) FROM orders)) AS INT)
    AS recency_days
  FROM per_cust
), cuts AS (
  SELECT
    ROUND(quantile_cont(recency_days, 0.25), 6) AS r1,
    ROUND(quantile_cont(recency_days, 0.5), 6) AS r2,
    ROUND(quantile_cont(recency_days, 0.75), 6) AS r3,
    ROUND(quantile_cont(frequency, 0.25), 6) AS f1,
    ROUND(quantile_cont(frequency, 0.5), 6) AS f2,
    ROUND(quantile_cont(frequency, 0.75), 6) AS f3,
    ROUND(quantile_cont(monetary, 0.25), 6) AS m1,
    ROUND(quantile_cont(monetary, 0.5), 6) AS m2,
    ROUND(quantile_cont(monetary, 0.75), 6) AS m3
  FROM rfm
), seg AS (
  SELECT
    CASE WHEN recency_days <= r1 THEN 1 WHEN recency_days <= r2 THEN 2
         WHEN recency_days <= r3 THEN 3 ELSE 4 END AS r_quartile,
    CASE WHEN frequency <= f1 THEN 1 WHEN frequency <= f2 THEN 2
         WHEN frequency <= f3 THEN 3 ELSE 4 END AS f_quartile,
    CASE WHEN monetary <= m1 THEN 1 WHEN monetary <= m2 THEN 2
         WHEN monetary <= m3 THEN 3 ELSE 4 END AS m_quartile,
    monetary
  FROM rfm, cuts
)
SELECT r_quartile, f_quartile, m_quartile, COUNT(*) AS n_customers,
  CAST(SUM(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_monetary
FROM seg
GROUP BY r_quartile, f_quartile, m_quartile
"""


def _q_embedding_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """X3 — int8 scalar quantization profile: per-vector scale, code
    checksum, and L2 reconstruction error. Map-only (scan-side transforms,
    no shuffle at all); floor(x/s + 0.5) half-up rounding is engine-stable
    where round() is not. The operator form lives in
    similarity.quantize_int8; this query re-derives codes inline so the
    oracle needs no list zip."""
    emb = load_table(spark, sf, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    raw = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    s = F.when(raw == 0.0, F.lit(1.0)).otherwise(raw)
    code = lambda x: F.floor(x / s + F.lit(0.5))
    qsum = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + code(x)).cast("long")
    err2 = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + F.pow(x - code(x) * s, F.lit(2.0))
    )
    return emb.select(
        "vec_id",
        F.round(s, 6).alias("scale6"),
        qsum.alias("qsum"),
        F.floor(F.sqrt(err2) * 10000).cast("long").alias("l2_err_e4"),
    )


_O_EMBEDDING_QUANTIZE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
  FROM embeddings
), s AS (
  SELECT vec_id, vv,
    CASE WHEN list_max(list_transform(vv, x -> abs(x))) / 127.0 = 0
         THEN 1.0
         ELSE list_max(list_transform(vv, x -> abs(x))) / 127.0 END AS scale
  FROM v
)
SELECT vec_id,
  ROUND(scale, 6) AS scale6,
  CAST(list_sum(list_transform(vv, x -> floor(x / scale + 0.5))) AS BIGINT) AS qsum,
  CAST(FLOOR(sqrt(list_sum(list_transform(vv,
      x -> pow(x - floor(x / scale + 0.5) * scale, 2)))) * 10000) AS BIGINT) AS l2_err_e4
FROM s
"""


# --------------------------------------------------------------------------
# Relational widening, part 2: Q8/Q10/Q13/Q14/Q17/Q18/Q19 shapes on the
# available columns (no partsupp/shipmode/commitdate in this schema).
# --------------------------------------------------------------------------

def _q_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """Q8 shape — NATION_3's share of supplier revenue among ASIA-customer
    orders, per year. The share is a conditional-sum ratio inside one
    aggregation (no second pass); all four dims broadcast, lineitem⋈orders
    is the only big shuffle. e6-floored ratio for engine-stable hashing."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cust_asia = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(load_table(spark, sf, "nation")), s.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_asia), o.o_custkey == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        _dsum(F.when(F.col("supp_nation") == "NATION_3", revenue).otherwise(F.lit(0.0)))
        .alias("nation_rev"),
        _dsum(revenue).alias("total_rev"),
    )
    return agg.select(
        "o_year",
        F.floor(F.col("nation_rev") / F.col("total_rev") * 1_000_000)
        .cast("long")
        .alias("mkt_share_e6"),
    )


_O_MARKET_SHARE = """
WITH asia_cust AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
  CAST(FLOOR(
    CAST(SUM(CAST(CASE WHEN n.n_name = 'NATION_3'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
    * 1000000) AS BIGINT) AS mkt_share_e6
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n ON s_nationkey = n.n_nationkey
WHERE o_custkey IN (SELECT c_custkey FROM asia_cust)
GROUP BY year(o_orderdate)
"""


def _q_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """Q10 shape — top 20 customers by revenue lost to returns
    (l_returnflag = 'R'). The flag filter reaches the lineitem scan
    (pushdown); customer is the smaller join side and broadcasts after
    the per-customer aggregate shrinks the fact stream."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(_dsum(revenue).alias("lost_revenue"), F.count(F.lit(1)).alias("n_lines"))
    )
    return (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_custkey"), F.col("c_name"), F.col("n_name").alias("nation"),
            "lost_revenue", "n_lines",
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_O_RETURNED_ITEMS = """
SELECT c_custkey, c_name, n_name AS nation,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
    AS lost_revenue,
  COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


def _q_order_count_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Q13 shape — distribution of per-customer order counts INCLUDING
    zero-order customers: left outer join then two stacked aggregations.
    Both group-bys shrink the data monotonically; nothing global."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
    )


_O_ORDER_COUNT_DISTRIBUTION = """
SELECT CAST(c_count AS BIGINT) AS c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def _q_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Q14 shape — monthly share of revenue from PROMO-type parts in 1999:
    conditional-sum ratio in a single aggregation after a broadcast join
    of the part dim (only p_partkey/p_type read — column pruning)."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01"))
        & (F.col("l_shipdate") < F.lit("2000-01-01"))
    )
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            _dsum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0)))
            .alias("promo_rev"),
            _dsum(revenue).alias("total_rev"),
        )
    )
    return agg.select(
        "ship_month",
        F.floor(F.col("promo_rev") / F.col("total_rev") * 1_000_000)
        .cast("long")
        .alias("promo_share_e6"),
    )


_O_PROMO_REVENUE = """
SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
  CAST(FLOOR(
    CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
    * 1000000) AS BIGINT) AS promo_share_e6
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
GROUP BY month(l_shipdate)
"""


def _q_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Q17 shape — revenue from lineitems whose quantity is below 50% of
    their part's average: the per-part average is a first aggregation
    that joins back to the fact on the SAME key (partkey), so AQE can
    plan it shuffle-aligned; no correlated per-row subquery execution."""
    li = load_table(spark, sf, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty")
    )
    joined = li.join(part_avg.withColumnRenamed("l_partkey", "p_key"),
                     li.l_partkey == F.col("p_key"))
    return (
        joined.filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            F.floor(_dsum(F.col("l_extendedprice")) / 7.0 * 100).cast("long")
            .alias("avg_yearly_e2"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_O_SMALL_QUANTITY_REVENUE = """
WITH pa AS (
  SELECT l_partkey AS p_key,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT
  CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 * 100)
    AS BIGINT) AS avg_yearly_e2,
  COUNT(*) AS n_lines
FROM lineitem JOIN pa ON l_partkey = p_key
WHERE l_quantity < 0.5 * avg_qty
"""


def _q_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Q18 shape — orders whose total quantity exceeds 150, with customer
    attribution: groupBy-HAVING on the fact, then the SURVIVORS (few)
    join orders/customer. The heavy table aggregates before any join."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
    )


_O_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 150
)
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 100
"""


def _q_disjunctive_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Q19 shape — OR-of-ANDs predicate across fact and dim columns.
    The part-side disjunction (brand/size) prunes the broadcast dim scan;
    the residual per-branch quantity bounds apply post-join. One row out:
    revenue + matched line count."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50))
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(5, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(10, 50))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(cond).agg(
        _dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


_O_DISJUNCTIVE_FILTER = """
SELECT
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 5 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 10 AND 50)
"""


def _q_forecast_revenue_change(spark: SparkSession, sf: str) -> DataFrame:
    """Q6 shape — the pure scan-side query: filtered single-pass aggregate
    with every predicate pushed into the parquet scan (date range,
    discount band, quantity cap). No join, one shuffle (partial→final
    agg). The canonical 'is pushdown working' probe."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01"))
        & (F.col("l_shipdate") < F.lit("2000-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_effect"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_O_FORECAST_REVENUE_CHANGE = """
SELECT
  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
    AS revenue_effect,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def _q_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Q15 shape — suppliers achieving the MAX quarterly revenue: an
    aggregate joined against its own maximum (1-row broadcast), which
    returns ALL ties like the SQL correlated-max form — no arbitrary
    row_number pick."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01"))
        & (F.col("l_shipdate") < F.lit("1999-04-01"))
    )
    s = load_table(spark, sf, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(_dsum(revenue).alias("total_revenue"))
    mx = per_supp.agg(F.max("total_revenue").alias("_mx"))
    return (
        per_supp.crossJoin(mx)
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), per_supp.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_O_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
      AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '1999-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""
