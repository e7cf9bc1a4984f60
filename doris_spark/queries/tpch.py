"""TPC-H-style analytical queries over the driver's star schema.

Reference analog: the reference's golden regression corpus runs the full TPC-H
suite (regression-test/suites/nereids_tpch_p0/tpch/q*.groovy); these are the same
query shapes adapted to the fixture schema (TESTDATA.md — no partsupp table, no
l_commitdate/l_receiptdate/l_shipmode, no o_shippriority).

A query registered with `sql_query` is its oracle text run through
Engine.sql, planned by Catalyst. A DataFrame builder is kept when the
benchmark times it by name (q1, q3, q5, q9, q19), when its oracle text
calls DuckDB's `generate_series` (q2, q11 and q16 build the partsupp
analog), or when its text ran slower through Engine.sql beyond noise
(CHANGES.md). The scale design notes below are about those builders
(100 TB):
- region/nation are broadcast unconditionally (fixed cardinality 5/25).
- customer/supplier/part joins use plain equi-joins: at SF100k those are
  shuffle joins on the join key; AQE demotes to broadcast when a side is small.
- Aggregations are expressed as groupBy().agg() → Catalyst plans partial
  (map-side) + final aggregation, so the shuffle carries pre-aggregated rows.
- Top-k queries use orderBy+limit → Spark plans TakeOrderedAndProject (no full
  sort of the data; per-partition heaps, driver merge of k rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doris_spark.functions.dicts import nation_geo_exprs
from doris_spark.queries import query, sql_query
from doris_spark.session import load_tables


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir)


# --------------------------------------------------------------------------
# Q1 — pricing summary report (flagship; reference golden
# regression-test/suites/nereids_tpch_p0/tpch/q1.groovy:26)
# --------------------------------------------------------------------------
@query(
    "tpch_q1",
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity)                                      AS sum_qty,
       sum(l_extendedprice)                                 AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount))              AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       avg(l_quantity)                                      AS avg_qty,
       avg(l_extendedprice)                                 AS avg_price,
       avg(l_discount)                                      AS avg_disc,
       count(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3 — shipping-priority top orders
# --------------------------------------------------------------------------
@query(
    "tpch_q3",
    oracle="""
SELECT l_orderkey,
       sum(l_extendedprice * (1 - l_discount)) AS revenue,
       o_orderdate
FROM customer
JOIN orders    ON c_custkey = o_custkey
JOIN lineitem  ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    cutoff = F.lit("1997-03-15").cast("timestamp")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"].filter(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"].filter(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS → left-semi join).
# Lateness condition adapted: l_shipdate > o_orderdate + 60 days
# (fixture has no l_commitdate/l_receiptdate).
# --------------------------------------------------------------------------
sql_query(
    "tpch_q4",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)


# --------------------------------------------------------------------------
# Q5 — local supplier volume (6-way join; region/nation broadcast)
# --------------------------------------------------------------------------
@query(
    "tpch_q5",
    oracle="""
SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    # nation/region are bounded dims: literal-map dictionary lookups
    # (functions/dicts.nation_geo_exprs) replace the nation⋈region
    # broadcast join — the r_name = 'ASIA' filter preserves the inner
    # semantics (a key with no nation/region resolves NULL -> dropped).
    n_name, r_name = nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .filter(r_name == "ASIA")
        .withColumn("n_name", n_name)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# Q6 — forecast revenue change (scan + filter + single agg; the filter must
# reach the parquet scan as PushedFilters)
# --------------------------------------------------------------------------
@query(
    "tpch_q6",
    oracle="""
SELECT sum(l_extendedprice * l_discount) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir)["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by year
# --------------------------------------------------------------------------
@query(
    "tpch_q7",
    oracle="""
SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1998-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    # Both nation sides resolved via the bounded-dim dictionary (no
    # broadcast joins); the name-pair filter keeps inner semantics.
    supp_nation, _ = nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))
    cust_nation, _ = nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))
    li = t["lineitem"].filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1998-12-31").cast("timestamp")
        )
    )
    joined = (
        t["supplier"]
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .withColumn("supp_nation", supp_nation)
        .withColumn("cust_nation", cust_nation)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — national market share within a region for one part type
# --------------------------------------------------------------------------
sql_query(
    "tpch_q8",
    """
SELECT o_year,
       sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume)
         AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
    AND p_type = 'STANDARD'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)


# --------------------------------------------------------------------------
# Q9 — product-type profit by nation and year (p_retailprice stands in for
# ps_supplycost; fixture has no partsupp)
# --------------------------------------------------------------------------
@query(
    "tpch_q9",
    oracle="""
SELECT nation, o_year, sum(amount) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%bolt%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    joined = (
        t["part"]
        .filter(F.col("p_name").like("%bolt%"))
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
    )
    n_name, _ = nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).alias("amount")
    return (
        joined.withColumn("nation", n_name)
        .filter(F.col("nation").isNotNull())
        .select("nation", F.year("o_orderdate").alias("o_year"), amount)
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# Q10 — returned-item reporting: top 20 customers by lost revenue
# --------------------------------------------------------------------------
sql_query(
    "tpch_q10",
    """
SELECT c_custkey, c_name,
       sum(l_extendedprice * (1 - l_discount)) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)


# --------------------------------------------------------------------------
# Q12 — shipping lateness vs order priority (CASE aggregation; adapted:
# "late" = shipped >90 days after order date, split by priority class)
# --------------------------------------------------------------------------
@query(
    "tpch_q12",
    oracle="""
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["orders"]
        .join(
            t["lineitem"].filter(
                (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (left outer join + double agg)
# --------------------------------------------------------------------------
@query(
    "tpch_q13",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Q14 — promo revenue share
# --------------------------------------------------------------------------
@query(
    "tpch_q14",
    oracle="""
SELECT 100.00 * sum(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
       / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
""",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------------
# Q15 — top supplier(s): revenue view + scalar-subquery max
# --------------------------------------------------------------------------
@query(
    "tpch_q15",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
        # The revenue view feeds both the max() scalar and the join;
        # Catalyst replans the lineitem scan+aggregate for each consumer,
        # so materialize the per-supplier rows once (CTE-reuse analog).
        .localCheckpoint(eager=False)
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mr"))
    return (
        t["supplier"]
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mr"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated scalar subquery → per-part
# avg join)
# --------------------------------------------------------------------------
sql_query(
    "tpch_q17",
    """
SELECT sum(l_extendedprice) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
""",
)


# --------------------------------------------------------------------------
# Q18 — large-volume customers (group-having IN subquery)
# --------------------------------------------------------------------------
@query(
    "tpch_q18",
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum(l_quantity) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 200
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
""",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 200)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — disjunctive brand/size/quantity predicates
# --------------------------------------------------------------------------
@query(
    "tpch_q19",
    oracle="""
SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 21)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
""",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    joined = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    )
    c2 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    )
    c3 = (
        (F.col("p_brand") == "Brand#14")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return joined.filter(c1 | c2 | c3).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


# --------------------------------------------------------------------------
# Q20-analog — suppliers who shipped more than N units of bolt parts
# (nested semi-join chain)
# --------------------------------------------------------------------------
sql_query(
    "tpch_q20",
    """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 100
)
ORDER BY s_name
""",
)


# --------------------------------------------------------------------------
# Q22-analog — customers with above-average balance and no orders
# (scalar subquery + null-aware anti join)
# --------------------------------------------------------------------------
@query(
    "tpch_q22",
    oracle="""
SELECT c_mktsegment AS cntrycode, count(*) AS numcust, sum(c_acctbal) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY cntrycode
""",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    avg_bal = (
        t["customer"].filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    )
    return (
        t["customer"]
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            t["orders"].filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_mktsegment").alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"), F.sum("c_acctbal").alias("totacctbal"))
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------
# The fixture has no partsupp table; q2/q11/q16 run over a deterministic
# derived part-supplier relation mirroring TPC-H's layout: exactly FOUR
# suppliers per part (dbgen assigns 4 partsupp rows per part), suppkey =
# (p_partkey*4 + i) % |supplier| + 1 for i in 0..3 (4 consecutive values
# mod |S| — always distinct, every supplier covered ~evenly), supplycost
# = retailprice * (0.4 + 0.05 * ((p_partkey*7 + suppkey) % 10)), availqty
# from the same hash. O(4·|part|) rows — no cartesian product (the r4
# crossJoin+modulo generator was O(|part|·|supplier|) and dominated
# q2/q11/q16; VERDICT r4 "What's wrong #2").
# --------------------------------------------------------------------------
_PARTSUPP_SQL = """
  SELECT p_partkey AS ps_partkey,
         CAST((p_partkey * 4 + i.i) % s.s_cnt + 1 AS BIGINT) AS ps_suppkey,
         p_retailprice * (0.4 + 0.05 * ((p_partkey * 7
             + (p_partkey * 4 + i.i) % s.s_cnt + 1) % 10)) AS ps_supplycost,
         CAST(1 + (p_partkey * 13
             + ((p_partkey * 4 + i.i) % s.s_cnt + 1) * 3) % 100 AS INT)
           AS ps_availqty
  FROM part,
       (SELECT count(*) AS s_cnt FROM supplier) s,
       generate_series(0, 3) i(i)
"""


# (session token, sf_dir) -> |supplier|: a bounded scalar memoized per
# session so the generator needs neither a count job nor a 1-row
# broadcast per query (was a crossJoin(broadcast(count agg)) build job).
# session_token, not bare id(spark): a GC'd session's id() can be reused
# by a new session and would serve stale counts (ADVICE r11).
_SUPPLIER_CNT_CACHE: dict[tuple[tuple[int, str], str], int] = {}


def _supplier_count(spark: SparkSession, sf_dir: str, t) -> int:
    from doris_spark.session import session_token

    key = (session_token(spark), sf_dir)
    if key not in _SUPPLIER_CNT_CACHE:
        _SUPPLIER_CNT_CACHE[key] = t["supplier"].count()
    return _SUPPLIER_CNT_CACHE[key]


def _partsupp(spark: SparkSession, sf_dir: str, t: dict[str, DataFrame]) -> DataFrame:
    # No repartition: the generator is trivial arithmetic over an explode
    # and every consumer joins (shuffling anyway) — the old
    # ensure_parallelism round-robin shuffle of `part` bought nothing.
    s_cnt = F.lit(_supplier_count(spark, sf_dir, t))
    suppkey = (F.col("p_partkey") * 4 + F.col("i")) % s_cnt + 1
    return (
        t["part"]
        .select(
            "p_partkey",
            "p_retailprice",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            suppkey.cast("bigint").alias("ps_suppkey"),
            (
                F.col("p_retailprice")
                * (0.4 + 0.05 * ((F.col("p_partkey") * 7 + suppkey) % 10))
            ).alias("ps_supplycost"),
            (1 + (F.col("p_partkey") * 13 + suppkey * 3) % 100)
            .cast("int")
            .alias("ps_availqty"),
        )
    )


@query(
    "tpch_q2",
    oracle=f"""
WITH partsupp AS ({_PARTSUPP_SQL})
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
FROM part
JOIN partsupp ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_size = 15 AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT min(ps_supplycost)
    FROM partsupp ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: min-cost supplier — correlated scalar subquery as a groupBy-min
    join (regression-test/suites/nereids_tpch_p0/tpch/q2.groovy analog)."""
    t = _t(spark, sf_dir)
    ps = _partsupp(spark, sf_dir, t)
    # supplier geo via the bounded-dim dictionary (was nation+region
    # broadcast joins); the EUROPE filter preserves inner-join semantics.
    sup_n_name, sup_r_name = nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))
    euro_sup = (
        t["supplier"]
        .withColumn("n_name", sup_n_name)
        .filter(sup_r_name == "EUROPE")
    )
    euro_ps = ps.join(
        euro_sup.select("s_suppkey", "s_acctbal", "s_name", "n_name"),
        F.col("ps_suppkey") == F.col("s_suppkey"),
    )
    # The correlated min decorrelates to a window over ps_partkey: one
    # pass over euro_ps instead of a second aggregate pipeline plus a
    # join-back (ties at the min survive either way).
    from pyspark.sql import Window

    w = Window.partitionBy("ps_partkey")
    best = euro_ps.withColumn("min_cost", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("min_cost")
    )
    return (
        t["part"]
        .filter(F.col("p_size") == 15)
        .join(best, F.col("p_partkey") == F.col("ps_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q11",
    oracle=f"""
WITH partsupp AS ({_PARTSUPP_SQL})
SELECT ps_partkey, round(sum(ps_supplycost * ps_availqty), 4) AS value
FROM partsupp
JOIN supplier ON ps_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY ps_partkey
HAVING sum(ps_supplycost * ps_availqty) > (
  SELECT sum(ps_supplycost * ps_availqty) / count(DISTINCT ps_partkey) * 1.5
  FROM partsupp
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
ORDER BY value DESC, ps_partkey
""",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: important stock — group-having against a global scalar."""
    t = _t(spark, sf_dir)
    # ASIA membership via the bounded-dim dictionary (was a broadcast
    # nation⋈region join on the supplier side).
    _, sup_region = nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))
    asia_ps = (
        _partsupp(spark, sf_dir, t)
        .join(t["supplier"], F.col("ps_suppkey") == F.col("s_suppkey"))
        .filter(sup_region == "ASIA")
        .select("ps_partkey", (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"))
    )
    # The HAVING threshold is derivable from the SAME per-part aggregate
    # (sum of sums; count-distinct of keys = row count), so asia_ps is
    # consumed once; the checkpoint stops Catalyst replanning the
    # generator+join pipeline for each consumer of per_part.
    per_part = (
        asia_ps.groupBy("ps_partkey").agg(F.sum("v").alias("raw_value"))
        .localCheckpoint(eager=False)
    )
    threshold = per_part.agg(
        (F.sum("raw_value") / F.count(F.lit(1)) * 1.5).alias("thr")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("raw_value") > F.col("thr"))
        .select("ps_partkey", F.round("raw_value", 4).alias("value"))
        .orderBy(F.desc("value"), "ps_partkey")
    )


@query(
    "tpch_q16",
    oracle=f"""
WITH partsupp AS ({_PARTSUPP_SQL})
SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16: supplier-part relationship counts with NOT-IN exclusion."""
    t = _t(spark, sf_dir)
    bad_sup = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        _partsupp(spark, sf_dir, t)
        .join(bad_sup, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            t["part"].filter(
                (F.col("p_brand") != "Brand#13")
                & (~F.col("p_type").like("PROMO%"))
                & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
            ),
            F.col("p_partkey") == F.col("ps_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q21",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_3'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 "suppliers who kept orders waiting" (q21.groovy analog), with
    lateness adapted to the fixture schema (no commit/receipt dates):
    late := l_shipdate > o_orderdate + 60 days.

    The correlated EXISTS / NOT EXISTS pair is decorrelated into ONE
    per-order aggregate (distinct suppliers; distinct late suppliers):
    a row qualifies iff its order has >1 supplier and exactly one late
    supplier (necessarily this row's). That replaces two correlated
    lineitem rescans with a single reusable shuffle — the same plan the
    reference's SubqueryToApply + agg rewrites aim for."""
    t = _t(spark, sf_dir)
    o_f = (
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("late", F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    )
    # The per-order distinct-supplier census is a WINDOW over l_orderkey:
    # the orders join already shuffled lineitem on that key, so the window
    # reuses its partitioning — no per-order aggregate, no join back
    # (2 fewer Exchanges than the agg + self-join decorrelation).
    # collect_set skips NULLs, so the when(late, ...) set counts exactly
    # the distinct late suppliers.
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    li = li.withColumn(
        "n_sup", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late_sup",
        F.size(F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)),
    )
    nat_sup = F.broadcast(
        t["supplier"]
        .filter(
            nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))[0]
            == "NATION_3"
        )
        .select("s_suppkey", "s_name")
    )
    return (
        li.filter(F.col("late") & (F.col("n_sup") > 1) & (F.col("n_late_sup") == 1))
        .join(nat_sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
