"""TPC-DS-shaped analytics suite adapted to the fixture star schema.

The reference ships a full TPC-DS harness (tools/tpcds-tools/, perf gate
regression-test/pipeline/performance/run-tpcds.sh in BASELINE.md). The
fixture schema is TPC-H-ish, so these reproduce the TPC-DS query *shapes*
— year-over-year ratios (q74), cumulative reports (q51), per-group
contribution shares with QUALIFY-style top-k (q67), customer bucketing
(q34), channel intersection (q38), decile segmentation, rollup reports
with GROUPING flags (q18/q22/q27) — on the tables we have.

A query registered with `sql_query` is its oracle text run through
Engine.sql, planned by Catalyst. A DataFrame builder is kept when its
oracle text calls names only DuckDB has (`isodow`, `generate_series`, the
three-argument `datediff`), differs from Doris in value (`dayofweek`
numbering, the type of `date_trunc`, DECIMAL division), or ran slower
through Engine.sql beyond noise; most of those apply a rule by hand that
the optimizer lacks, such as a pre-aggregation below a join or a year
range in place of `year(col) = Y` (CHANGES.md). Scale notes for those
builders: each is a single declarative plan. Dimension joins
broadcast (nation/region/part are bounded); fact-side aggregates are
partial+final (map-side combine); window functions partition on the
grouped key so the shuffle feeding the window is the same one the
aggregate produced (Catalyst reuses the exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doris_spark.functions.dicts import nation_geo_exprs
from doris_spark.queries import query, sql_query, year_between
from doris_spark.session import load_tables


@query(
    "ds_yoy_brand",
    oracle="""
WITH yr AS (
  SELECT p_brand, year(l_shipdate) AS yr,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, year(l_shipdate)
)
SELECT p_brand, yr, rev,
       round(rev / lag(rev) OVER (PARTITION BY p_brand ORDER BY yr), 6) AS yoy
FROM yr ORDER BY p_brand, yr
""",
)
def ds_yoy_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q74 shape: year-over-year revenue ratio per brand.

    The lag window partitions on p_brand — the same key the aggregate
    grouped on — so no extra shuffle is needed between agg and window."""
    t = load_tables(spark, sf_dir)
    yr = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.year("l_shipdate").alias("yr"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev"))
    )
    w = Window.partitionBy("p_brand").orderBy("yr")
    return yr.select(
        "p_brand", "yr", "rev",
        F.round(F.col("rev") / F.lag("rev").over(w), 6).alias("yoy"),
    ).orderBy("p_brand", "yr")


sql_query(
    "ds_rollup_report",
    """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(c_mktsegment, 'ALL') AS segment,
       CAST(grouping(n_name) * 2 + grouping(c_mktsegment) AS BIGINT) AS gid,
       count(*) AS orders_cnt,
       round(sum(o_totalprice), 4) AS rev,
       round(avg(o_totalprice), 6) AS avg_rev
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE n_nationkey < 5
GROUP BY ROLLUP (n_name, c_mktsegment)
ORDER BY gid, nation, segment
""",
)


@query(
    "ds_customer_buckets",
    oracle="""
WITH oc AS (
  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
)
SELECT CASE WHEN cnt <= 5 THEN 'a_1_5'
            WHEN cnt <= 10 THEN 'b_6_10'
            WHEN cnt <= 20 THEN 'c_11_20'
            ELSE 'd_20_plus' END AS bucket,
       count(*) AS customers,
       CAST(min(cnt) AS BIGINT) AS min_orders,
       CAST(max(cnt) AS BIGINT) AS max_orders
FROM oc GROUP BY bucket ORDER BY bucket
""",
)
def ds_customer_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q34/q73 shape: per-customer order-count segmentation."""
    t = load_tables(spark, sf_dir)
    oc = t["orders"].groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    bucket = (
        F.when(F.col("cnt") <= 5, "a_1_5")
        .when(F.col("cnt") <= 10, "b_6_10")
        .when(F.col("cnt") <= 20, "c_11_20")
        .otherwise("d_20_plus")
    )
    return (
        oc.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("customers"),
            F.min("cnt").cast("bigint").alias("min_orders"),
            F.max("cnt").cast("bigint").alias("max_orders"),
        )
        .orderBy("bucket")
    )


@query(
    "ds_channel_share",
    oracle="""
WITH d AS (
  SELECT event_type, isodow(ts) AS dow, count(*) AS n
  FROM events GROUP BY event_type, isodow(ts)
)
SELECT event_type, CAST(dow AS INT) AS dow, n,
       round(n / sum(n) OVER (PARTITION BY event_type), 6) AS share
FROM d ORDER BY event_type, dow
""",
)
def ds_channel_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q71 shape: per-channel share-of-traffic by day-of-week.
    Spark weekday() is 0=Monday; DuckDB isodow is 1=Monday — offset by 1."""
    ev = load_tables(spark, sf_dir)["events"]
    d = ev.groupBy(
        "event_type", (F.weekday("ts") + 1).cast("int").alias("dow")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type")
    return d.select(
        "event_type", "dow", "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("share"),
    ).orderBy("event_type", "dow")


@query(
    "ds_cross_channel_customers",
    oracle="""
SELECT count(*) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
) t
""",
)
def ds_cross_channel_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q38 shape: customers present in BOTH channels (INTERSECT =
    left-semi after distinct; Catalyst plans it as an aggregate + semi join)."""
    o = load_tables(spark, sf_dir)["orders"]
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op).agg(F.count("*").alias("n"))


@query(
    "ds_cumulative_monthly",
    oracle="""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS mon,
         round(sum(o_totalprice), 4) AS rev,
         count(*) AS orders_cnt
  FROM orders GROUP BY date_trunc('month', o_orderdate)
)
SELECT mon, rev, orders_cnt,
       round(sum(rev) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_rev,
       CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS month_seq
FROM m ORDER BY mon
""",
)
def ds_cumulative_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q51 shape: monthly revenue + running cumulative total.

    The unpartitioned window runs on the (small) aggregated monthly series, not
    the fact table — the 100 TB scan collapses to <=120 month rows before
    any single-partition window executes."""
    o = load_tables(spark, sf_dir)["orders"]
    # Spark's date_trunc yields TIMESTAMP; cast to DATE to match the
    # oracle (DuckDB date_trunc on a DATE stays DATE).
    m = o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("mon")).agg(
        F.round(F.sum("o_totalprice"), 4).alias("rev"),
        F.count("*").alias("orders_cnt"),
    )
    w = Window.orderBy("mon").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ws = Window.orderBy("mon")
    return m.select(
        "mon", "rev", "orders_cnt",
        F.round(F.sum("rev").over(w), 4).alias("cum_rev"),
        F.row_number().over(ws).cast("bigint").alias("month_seq"),
    ).orderBy("mon")


sql_query(
    "ds_decile_spend",
    """
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 4) AS tot
  FROM orders GROUP BY o_custkey
), dec AS (
  SELECT o_custkey, tot,
         ntile(10) OVER (ORDER BY tot DESC, o_custkey) AS d
  FROM spend
)
SELECT CAST(d AS INT) AS decile, count(*) AS n,
       round(sum(tot), 4) AS total_spend,
       round(min(tot), 4) AS min_spend,
       round(max(tot), 4) AS max_spend
FROM dec GROUP BY d ORDER BY d
""",
)


sql_query(
    "ds_brand_type_topk",
    """
WITH t AS (
  SELECT p_brand, p_type, round(sum(l_extendedprice), 4) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_type
)
SELECT p_brand, p_type, rev,
       round(rev / sum(rev) OVER (PARTITION BY p_brand), 6) AS share,
       CAST(rank() OVER (PARTITION BY p_brand ORDER BY rev DESC, p_type) AS BIGINT) AS rk
FROM t
QUALIFY rk <= 3
ORDER BY p_brand, rk, p_type
""",
)


sql_query(
    "ds_returned_ratio",
    """
SELECT n_name,
       round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END)
             / sum(l_extendedprice), 6) AS ret_ratio,
       count(*) AS line_cnt
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY ret_ratio DESC, n_name
LIMIT 10
""",
)


@query(
    "ds_monthly_active_users",
    oracle="""
WITH m AS (
  SELECT date_trunc('month', ts) AS mon, count(DISTINCT user_id) AS mau
  FROM events GROUP BY date_trunc('month', ts)
)
SELECT mon, mau,
       round(mau / lag(mau) OVER (ORDER BY mon), 6) AS mom_ratio
FROM m ORDER BY mon
""",
)
def ds_monthly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly active users + month-over-month ratio (distinct agg feeding
    an ordered lag window on the collapsed monthly series)."""
    ev = load_tables(spark, sf_dir)["events"]
    m = ev.groupBy(F.date_trunc("month", "ts").cast("date").alias("mon")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    w = Window.orderBy("mon")
    return m.select(
        "mon", "mau",
        F.round(F.col("mau") / F.lag("mau").over(w), 6).alias("mom_ratio"),
    ).orderBy("mon")


@query(
    "ds_q5_channel_rollup",
    oracle="""
WITH per AS (
  SELECT l_linestatus AS channel, p_brand,
         sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END) AS sales,
         sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS returns_amt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY l_linestatus, p_brand
)
SELECT coalesce(channel, 'ALL') AS channel,
       coalesce(p_brand, 'ALL') AS brand,
       round(sum(sales), 2) AS sales,
       round(sum(returns_amt), 2) AS returns_amt,
       round(sum(sales) - sum(returns_amt), 2) AS profit
FROM per
GROUP BY ROLLUP(channel, p_brand)
ORDER BY channel, brand
""",
)
def ds_q5_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q5 shape (tools/tpcds-tools/queries/query5.sql): per-channel
    sales/returns report with a ROLLUP over (channel, brand). Channel =
    l_linestatus on the fixture (no shipmode column). One shuffle to (channel, brand); the
    rollup's grand totals ride the same Expand-based aggregate."""
    t = load_tables(spark, sf_dir)
    per = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_linestatus").alias("channel"), "p_brand")
        .agg(
            F.sum(F.when(F.col("l_returnflag") != "R", F.col("l_extendedprice")).otherwise(0)).alias("sales"),
            F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")).otherwise(0)).alias("returns_amt"),
        )
    )
    return (
        per.rollup("channel", "p_brand")
        .agg(
            F.round(F.sum("sales"), 2).alias("sales"),
            F.round(F.sum("returns_amt"), 2).alias("returns_amt"),
            F.round(F.sum("sales") - F.sum("returns_amt"), 2).alias("profit"),
        )
        .select(
            F.coalesce("channel", F.lit("ALL")).alias("channel"),
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            "sales", "returns_amt", "profit",
        )
        .orderBy("channel", "brand")
    )


sql_query(
    "ds_q11_yoy_two_channel",
    """
WITH spend AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN o_totalprice ELSE 0 END) AS hi,
         sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN o_totalprice ELSE 0 END) AS lo
  FROM orders GROUP BY o_custkey, year(o_orderdate)
),
pairs AS (
  SELECT c.o_custkey, c.yr,
         c.hi AS hi_cur, p.hi AS hi_prev, c.lo AS lo_cur, p.lo AS lo_prev
  FROM spend c JOIN spend p
    ON c.o_custkey = p.o_custkey AND c.yr = p.yr + 1
  WHERE p.hi > 0 AND p.lo > 0
)
SELECT o_custkey, yr
FROM pairs
WHERE hi_cur / hi_prev > lo_cur / lo_prev
ORDER BY o_custkey, yr
""",
)


@query(
    "ds_q14_cross_channel_parts",
    oracle="""
WITH all3 AS (
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
  INTERSECT
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
  INTERSECT
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT p_brand, count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_partkey IN (SELECT l_partkey FROM all3)
GROUP BY p_brand
ORDER BY p_brand
""",
)
def ds_q14_cross_channel_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q14 shape: parts sold through ALL THREE channels, then
    revenue by brand restricted to that set via a left-semi join. The
    INTERSECT chain (three scans, three distincts, two joins) is a
    per-partkey flag aggregate over ONE scan: a key is in the
    intersection exactly when all three channel flags are set."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    flag = lambda m: F.max(F.when(F.col("l_returnflag") == m, F.lit(1)))
    all3 = (
        li.groupBy("l_partkey")
        .agg(flag("A").alias("fa"), flag("N").alias("fn"), flag("R").alias("fr"))
        .filter(F.col("fa").isNotNull() & F.col("fn").isNotNull() & F.col("fr").isNotNull())
        .select("l_partkey")
    )
    return (
        li.join(all3, "l_partkey", "left_semi")
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev"),
        )
        .orderBy("p_brand")
    )


@query(
    "ds_q47_monthly_deviation",
    oracle="""
WITH m AS (
  SELECT p_brand, year(l_shipdate) AS yr, month(l_shipdate) AS mon,
         round(sum(l_extendedprice), 2) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, year(l_shipdate), month(l_shipdate)
),
v AS (
  SELECT p_brand, yr, mon, rev,
         sum(rev) OVER (PARTITION BY p_brand, yr) AS sum_year,
         count(*) OVER (PARTITION BY p_brand, yr) AS n_months,
         lag(rev) OVER (PARTITION BY p_brand ORDER BY yr, mon) AS prev_rev,
         lead(rev) OVER (PARTITION BY p_brand ORDER BY yr, mon) AS next_rev
  FROM m
)
SELECT p_brand, yr, mon, rev, round(sum_year, 2) AS sum_year, n_months,
       prev_rev, next_rev
FROM v
WHERE sum_year > 0 AND abs(rev - sum_year / n_months) / (sum_year / n_months) > 0.3
ORDER BY p_brand, yr, mon
""",
)
def ds_q47_monthly_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q47 shape: monthly revenue per brand vs the brand-year
    average, with lag/lead context months, keeping months deviating
    >30%. Two windows share the (p_brand) partitioning — one shuffle
    feeds both (Catalyst reuses the exchange)."""
    t = load_tables(spark, sf_dir)
    m = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.year("l_shipdate").alias("yr"), F.month("l_shipdate").alias("mon"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    )
    wa = Window.partitionBy("p_brand", "yr")
    ws = Window.partitionBy("p_brand").orderBy("yr", "mon")
    v = m.select(
        "p_brand", "yr", "mon", "rev",
        F.sum("rev").over(wa).alias("sum_year_raw"),
        F.count(F.lit(1)).over(wa).alias("n_months"),
        F.lag("rev").over(ws).alias("prev_rev"),
        F.lead("rev").over(ws).alias("next_rev"),
    )
    avg = F.col("sum_year_raw") / F.col("n_months")
    return (
        v.filter((F.col("sum_year_raw") > 0) & (F.abs(F.col("rev") - avg) / avg > 0.3))
        .select(
            "p_brand", "yr", "mon", "rev",
            F.round("sum_year_raw", 2).alias("sum_year"),
            "n_months",
            "prev_rev", "next_rev",
        )
        .orderBy("p_brand", "yr", "mon")
    )


sql_query(
    "ds_q57_nation_deviation",
    """
WITH m AS (
  SELECT n_name, year(l_shipdate) AS yr, month(l_shipdate) AS mon,
         round(sum(l_extendedprice), 2) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, year(l_shipdate), month(l_shipdate)
),
v AS (
  SELECT n_name, yr, mon, rev,
         sum(rev) OVER (PARTITION BY n_name, yr) AS sum_year,
         rank() OVER (PARTITION BY n_name ORDER BY rev DESC) AS rev_rank
  FROM m
)
SELECT n_name, yr, mon, rev, round(sum_year, 2) AS sum_year, rev_rank
FROM v WHERE rev_rank <= 3
ORDER BY n_name, rev_rank, yr, mon
""",
)


@query(
    "ds_q33_mfgr_channels",
    oracle="""
WITH u AS (
  SELECT p_type, 'A' AS channel, l_extendedprice AS amt
  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_returnflag = 'A'
  UNION ALL
  SELECT p_type, 'N' AS channel, l_extendedprice AS amt
  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_returnflag = 'N'
  UNION ALL
  SELECT p_type, 'R' AS channel, l_extendedprice AS amt
  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_returnflag = 'R'
)
SELECT p_type, round(sum(amt), 2) AS total_amt, count(*) AS n
FROM u GROUP BY p_type ORDER BY total_amt DESC, p_type
""",
)
def ds_q33_mfgr_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q33 shape: part-type revenue unioned across three
    channels then re-aggregated. The three union branches are DISJOINT
    slices of the same join (one branch per l_returnflag value), and the
    re-aggregation ignores the channel tag — so the union IS a single
    isin filter over one scan instead of three."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].join(
        F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")
    )
    u = li.filter(F.col("l_returnflag").isin("A", "N", "R")).select(
        "p_type", F.col("l_extendedprice").alias("amt")
    )
    return (
        u.groupBy("p_type")
        .agg(F.round(F.sum("amt"), 2).alias("total_amt"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("total_amt"), "p_type")
    )


@query(
    "ds_q35_customer_stats",
    oracle="""
SELECT n_name, c_mktsegment,
       count(*) AS cnt,
       round(sum(c_acctbal), 2) AS sum_bal,
       round(max(c_acctbal), 2) AS max_bal,
       round(min(c_acctbal), 2) AS min_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND year(o_orderdate) = 1995)
GROUP BY n_name, c_mktsegment
ORDER BY n_name, c_mktsegment
""",
)
def ds_q35_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q35 shape: demographic stats over customers active in a
    year — EXISTS becomes a left-semi join on the filtered fact."""
    t = load_tables(spark, sf_dir)
    active = t["orders"].filter(year_between("o_orderdate", 1995)).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        t["customer"]
        .join(active, "c_custkey", "left_semi")
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))[0])
        .filter(F.col("n_name").isNotNull())
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        )
        .orderBy("n_name", "c_mktsegment")
    )


@query(
    "ds_q65_low_revenue_pairs",
    oracle="""
WITH sp AS (
  SELECT l_suppkey, l_partkey, sum(l_extendedprice) AS rev
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
sa AS (
  SELECT l_suppkey, avg(rev) AS avg_rev
  FROM sp GROUP BY l_suppkey
)
SELECT s_name, p_name, round(sp.rev, 2) AS rev, round(sa.avg_rev, 2) AS avg_rev
FROM sp
JOIN sa ON sp.l_suppkey = sa.l_suppkey
JOIN supplier ON sp.l_suppkey = s_suppkey
JOIN part ON sp.l_partkey = p_partkey
WHERE sp.rev <= 0.1 * sa.avg_rev
ORDER BY s_name, p_name
""",
)
def ds_q65_low_revenue_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q65 shape: (supplier, part) pairs whose revenue is <=10%
    of the supplier's average pair revenue. The per-supplier average is
    a window over the FIRST aggregate's output — no re-scan, no
    self-join of the fact table."""
    t = load_tables(spark, sf_dir)
    # ONE exchange for agg + window (r12, guide §2.4): hash-partitioning
    # on l_suppkey satisfies the (l_suppkey, l_partkey) aggregate's
    # clustered distribution AND the window's, so the explicit
    # repartition is the only shuffle of lineitem. Map-side partial agg
    # bought nothing here — (suppkey, partkey) is ~98% distinct
    # (590973 groups / 600000 rows at sf0.1), so the agg exchange moved
    # the same bytes. l_suppkey cardinality scales with SF (no
    # parallelism collapse), and AQE still coalesces the exchange.
    sp = (
        t["lineitem"]
        .select("l_suppkey", "l_partkey", "l_extendedprice")
        .repartition(F.col("l_suppkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    w = Window.partitionBy("l_suppkey")
    low = sp.withColumn("avg_rev_raw", F.avg("rev").over(w)).filter(
        F.col("rev") <= 0.1 * F.col("avg_rev_raw")
    )
    return (
        low.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_name", "p_name",
            F.round("rev", 2).alias("rev"),
            F.round("avg_rev_raw", 2).alias("avg_rev"),
        )
        .orderBy("s_name", "p_name")
    )


@query(
    "ds_q75_yoy_decline",
    oracle="""
WITH by_year AS (
  SELECT p_brand, year(l_shipdate) AS yr,
         sum(l_quantity) AS qty, sum(l_extendedprice) AS amt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_returnflag IN ('A', 'N')
  GROUP BY p_brand, year(l_shipdate)
)
SELECT c.p_brand, c.yr, c.qty AS qty_cur, p.qty AS qty_prev,
       round(c.amt - p.amt, 2) AS amt_delta
FROM by_year c JOIN by_year p
  ON c.p_brand = p.p_brand AND c.yr = p.yr + 1
WHERE c.qty < p.qty
ORDER BY amt_delta, c.p_brand, c.yr
""",
)
def ds_q75_yoy_decline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q75 shape: brands whose unit volume DECLINED year over
    year across the selected channels, with the revenue delta. The
    prev-year comparison is a lag window per brand (one shuffle), not
    the spec's self-join."""
    t = load_tables(spark, sf_dir)
    by_year = (
        t["lineitem"]
        .filter(F.col("l_returnflag").isin("A", "N"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.year("l_shipdate").alias("yr"))
        .agg(F.sum("l_quantity").alias("qty"), F.sum("l_extendedprice").alias("amt"))
    )
    w = Window.partitionBy("p_brand").orderBy("yr")
    out = by_year.select(
        "p_brand", "yr", "qty", "amt",
        F.lag("yr").over(w).alias("yr_prev"),
        F.lag("qty").over(w).alias("qty_prev"),
        F.lag("amt").over(w).alias("amt_prev"),
    ).filter((F.col("yr_prev") == F.col("yr") - 1) & (F.col("qty") < F.col("qty_prev")))
    return out.select(
        "p_brand", "yr",
        F.col("qty").alias("qty_cur"),
        "qty_prev",
        F.round(F.col("amt") - F.col("amt_prev"), 2).alias("amt_delta"),
    ).orderBy("amt_delta", "p_brand", "yr")


@query(
    "ds_q89_rolling_brand_avg",
    oracle="""
WITH m AS (
  SELECT p_brand, l_linestatus, year(l_shipdate) AS yr, month(l_shipdate) AS mon,
         round(sum(l_extendedprice), 2) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1995
  GROUP BY p_brand, l_linestatus, year(l_shipdate), month(l_shipdate)
)
, v AS (
  SELECT p_brand, l_linestatus, yr, mon, rev,
         sum(rev) OVER (PARTITION BY p_brand, l_linestatus) AS sum_m,
         count(*) OVER (PARTITION BY p_brand, l_linestatus) AS n_m
  FROM m
)
SELECT p_brand, l_linestatus, yr, mon, rev,
       round(sum_m, 2) AS sum_monthly, n_m
FROM v
WHERE abs(rev - sum_m / n_m) > 0.2 * (sum_m / n_m)
ORDER BY p_brand, l_linestatus, yr, mon
""",
)
def ds_q89_rolling_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q89 shape: months whose revenue deviates >20% from the
    (brand, linestatus) average within a year. Single aggregate + one
    window on the same keys."""
    t = load_tables(spark, sf_dir)
    m = (
        t["lineitem"]
        .filter(year_between("l_shipdate", 1995))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_linestatus", F.year("l_shipdate").alias("yr"), F.month("l_shipdate").alias("mon"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("p_brand", "l_linestatus")
    v = m.withColumn("sum_m", F.sum("rev").over(w)).withColumn(
        "n_m", F.count(F.lit(1)).over(w)
    )
    avg = F.col("sum_m") / F.col("n_m")
    return (
        v.filter(F.abs(F.col("rev") - avg) > 0.2 * avg)
        .select("p_brand", "l_linestatus", "yr", "mon", "rev",
                F.round("sum_m", 2).alias("sum_monthly"),
                F.col("n_m").alias("n_m"))
        .orderBy("p_brand", "l_linestatus", "yr", "mon")
    )


@query(
    "ds_q34_order_buckets",
    oracle="""
WITH per_order AS (
  SELECT o_orderkey, o_custkey, count(*) AS n_items
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey, o_custkey
)
SELECT c_name, o_orderkey, n_items
FROM per_order JOIN customer ON o_custkey = c_custkey
WHERE n_items BETWEEN 5 AND 7
ORDER BY c_name, o_orderkey
""",
)
def ds_q34_order_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q34 shape: orders whose item count falls in a bucket,
    joined back to the customer dimension. The count aggregates on the
    join key the fact already shuffles on."""
    t = load_tables(spark, sf_dir)
    # Aggregate BEFORE the join (r12, guide §2.3): the item count needs
    # only lineitem, so the per-orderkey count (with map-side partial
    # agg) and the 5..7 bucket filter run first — the orders join then
    # moves the few qualifying counts, not every line, and o_orderkey is
    # unique so joining after the count is exact.
    per_order = (
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items").between(5, 7))
    )
    return (
        per_order.join(t["orders"].select("o_orderkey", "o_custkey"), "o_orderkey")
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "o_orderkey", "n_items")
        .orderBy("c_name", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Round-5 additions: 12 more real TPC-DS query shapes
# (reference: tools/tpcds-tools/queries/sf100/query{1,2,31,36,41,46,54,88,
# 90,93,95,97}.sql), adapted to the fixture star schema.
# --------------------------------------------------------------------------


@query(
    "ds_q1_returns_above_avg",
    oracle="""
WITH ret AS (
  SELECT o_custkey, c_nationkey, round(sum(l_extendedprice), 4) AS amt
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R'
  GROUP BY o_custkey, c_nationkey
)
SELECT o_custkey AS custkey, amt
FROM ret r1
WHERE amt > (SELECT avg(amt) * 1.2 FROM ret r2
             WHERE r2.c_nationkey = r1.c_nationkey)
ORDER BY custkey
""",
)
def ds_q1_returns_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q1 shape (tools/tpcds-tools/queries/sf100/query1.sql):
    customers whose return total exceeds 1.2x the average of their
    nation. The correlated subquery is expressed as a window average
    over the SAME aggregate output (one shuffle to (custkey, nation),
    window repartitions only the slim aggregated rows by nation) — not
    a second scan + self-join as a literal translation would."""
    t = load_tables(spark, sf_dir)
    ret = (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_custkey", "c_nationkey")
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("amt"))
    )
    w = Window.partitionBy("c_nationkey")
    return (
        ret.withColumn("nation_avg", F.avg("amt").over(w))
        .filter(F.col("amt") > F.col("nation_avg") * 1.2)
        .select(F.col("o_custkey").alias("custkey"), "amt")
        .orderBy("custkey")
    )


@query(
    "ds_q2_wow_ratio",
    oracle="""
WITH wk AS (
  SELECT year(l_shipdate) AS yr, weekofyear(l_shipdate) AS wk,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
  FROM lineitem
  WHERE year(l_shipdate) IN (1995, 1996)
  GROUP BY year(l_shipdate), weekofyear(l_shipdate)
)
SELECT a.wk AS wk, a.rev AS rev_1995, b.rev AS rev_1996,
       round(b.rev / a.rev, 6) AS ratio
FROM wk a JOIN wk b ON a.wk = b.wk AND a.yr = 1995 AND b.yr = 1996
ORDER BY wk
""",
)
def ds_q2_wow_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q2 shape (query2.sql): weekly revenue aligned across two
    consecutive years, ratio per ISO week. The year-on-year alignment is
    a conditional-aggregate pivot: ONE scan, one shuffle to wk, no
    self-join (Catalyst planned the aggregate once per self-join side).
    The inner-join existence requirement — the week must occur in BOTH
    years — survives as the NOT NULL filter: sum(when(yr=Y, net)) is
    NULL exactly when year Y has no rows for that week (net itself is
    never NULL), which is exactly when the join would drop the week."""
    t = load_tables(spark, sf_dir)
    yr = F.year("l_shipdate")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .filter(year_between("l_shipdate", 1995, 1996))
        .groupBy(F.weekofyear("l_shipdate").alias("wk"))
        .agg(
            F.round(F.sum(F.when(yr == 1995, net)), 4).alias("rev_1995"),
            F.round(F.sum(F.when(yr == 1996, net)), 4).alias("rev_1996"),
        )
        .filter(F.col("rev_1995").isNotNull() & F.col("rev_1996").isNotNull())
        .select("wk", "rev_1995", "rev_1996",
                F.round(F.col("rev_1996") / F.col("rev_1995"), 6).alias("ratio"))
        .orderBy("wk")
    )


sql_query(
    "ds_q31_qoq_growth",
    """
WITH q AS (
  SELECT c_nationkey,
         sum(CASE WHEN quarter(o_orderdate) = 1 AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN o_totalprice ELSE 0 END) AS hi_q1,
         sum(CASE WHEN quarter(o_orderdate) = 2 AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN o_totalprice ELSE 0 END) AS hi_q2,
         sum(CASE WHEN quarter(o_orderdate) = 1 AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN o_totalprice ELSE 0 END) AS lo_q1,
         sum(CASE WHEN quarter(o_orderdate) = 2 AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN o_totalprice ELSE 0 END) AS lo_q2
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE year(o_orderdate) = 1996
  GROUP BY c_nationkey
)
SELECT n_name, round(hi_q2 / hi_q1, 6) AS hi_growth,
       round(lo_q2 / lo_q1, 6) AS lo_growth
FROM q JOIN nation ON c_nationkey = n_nationkey
WHERE hi_q1 > 0 AND lo_q1 > 0 AND hi_q2 / hi_q1 > lo_q2 / lo_q1
ORDER BY n_name
""",
)


sql_query(
    "ds_q36_margin_rollup",
    """
WITH base AS (
  SELECT n_name, p_brand,
         sum(l_extendedprice * (1 - l_discount) - l_quantity * p_retailprice * 0.5) AS profit,
         sum(l_extendedprice * (1 - l_discount)) AS rev,
         grouping(n_name) + grouping(p_brand) AS lochierarchy,
         grouping(p_brand) AS g_brand,
         CASE WHEN grouping(p_brand) = 0 THEN n_name END AS parent
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY ROLLUP(n_name, p_brand)
)
SELECT round(profit / rev, 6) AS margin,
       coalesce(n_name, 'ALL') AS nation,
       coalesce(p_brand, 'ALL') AS brand,
       lochierarchy,
       rank() OVER (PARTITION BY lochierarchy, parent
                    ORDER BY round(profit / rev, 6)) AS rnk
FROM base
ORDER BY lochierarchy DESC, nation, rnk, brand
""",
)


sql_query(
    "ds_q41_distinct_or",
    """
SELECT DISTINCT p_name
FROM part
WHERE (p_brand LIKE 'Brand#1%' AND p_size BETWEEN 1 AND 20 AND p_type LIKE '%BRASS%')
   OR (p_brand LIKE 'Brand#2%' AND p_size BETWEEN 25 AND 40 AND p_type LIKE '%STEEL%')
   OR (p_brand LIKE 'Brand#3%' AND p_size BETWEEN 10 AND 30 AND p_type LIKE '%COPPER%')
ORDER BY p_name
LIMIT 100
""",
)


@query(
    "ds_q46_nation_mismatch",
    oracle="""
SELECT c_name, o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS amt
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE c_nationkey <> s_nationkey
GROUP BY c_name, o_orderkey
ORDER BY amt DESC, c_name, o_orderkey
LIMIT 100
""",
)
def ds_q46_nation_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q46 shape (query46.sql, bought-in-a-different-city): order
    totals where the supplier sits in a different nation than the
    customer. supplier is broadcast (bounded dim); the order-grain
    aggregate shuffles once on the orderkey the lineitem join already
    colocated; top-100 is TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy("c_name", "o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("amt"))
        .orderBy(F.desc("amt"), "c_name", "o_orderkey")
        .limit(100)
    )


@query(
    "ds_q54_segment_histogram",
    oracle="""
WITH buyers AS (
  SELECT DISTINCT o_custkey
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part   ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#12' AND year(o_orderdate) = 1995
),
tot AS (
  SELECT o.o_custkey, sum(o_totalprice) AS t
  FROM orders o JOIN buyers b ON o.o_custkey = b.o_custkey
  GROUP BY o.o_custkey
)
SELECT CAST(floor(t / 50000) AS INT) AS segment, count(*) AS num_customers
FROM tot GROUP BY segment ORDER BY segment
""",
)
def ds_q54_segment_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q54 shape (query54.sql): find customers who bought the
    target brand, then histogram their lifetime spend into $50k
    segments. buyers is a semi-join reduction (DISTINCT custkeys only —
    slim enough to broadcast back against orders); the histogram
    aggregates the per-customer totals, not the fact rows."""
    t = load_tables(spark, sf_dir)
    buyers = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["part"].filter(F.col("p_brand") == "Brand#12")),
              F.col("l_partkey") == F.col("p_partkey"))
        .filter(year_between("o_orderdate", 1995))
        .select("o_custkey").distinct()
    )
    tot = (
        t["orders"]
        .join(buyers.withColumnRenamed("o_custkey", "b_custkey"),
              F.col("o_custkey") == F.col("b_custkey"))
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("t"))
    )
    return (
        tot.groupBy(F.floor(F.col("t") / 50000).cast("int").alias("segment"))
        .agg(F.count(F.lit(1)).alias("num_customers"))
        .orderBy("segment")
    )


@query(
    "ds_q88_time_bands",
    oracle="""
SELECT * FROM
  (SELECT count(*) AS h8  FROM events WHERE hour(ts) = 8)  a,
  (SELECT count(*) AS h9  FROM events WHERE hour(ts) = 9)  b,
  (SELECT count(*) AS h10 FROM events WHERE hour(ts) = 10) c,
  (SELECT count(*) AS h11 FROM events WHERE hour(ts) = 11) d,
  (SELECT count(*) AS h12 FROM events WHERE hour(ts) = 12) e,
  (SELECT count(*) AS h13 FROM events WHERE hour(ts) = 13) f,
  (SELECT count(*) AS h14 FROM events WHERE hour(ts) = 14) g,
  (SELECT count(*) AS h15 FROM events WHERE hour(ts) = 15) h
""",
)
def ds_q88_time_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape (query88.sql): the 8-way time-band census. The
    literal form is eight scalar subqueries cross-joined — eight scans.
    Here all eight bands are one conditional aggregate over a single
    scan (the oracle keeps the literal 8-subquery form to prove value
    equivalence)."""
    ev = load_tables(spark, sf_dir)["events"]
    h = F.hour("ts")
    return ev.agg(*[
        F.sum(F.when(h == hh, 1).otherwise(0)).cast("long").alias(f"h{hh}")
        for hh in range(8, 16)
    ])


@query(
    "ds_q90_ampm_ratio",
    oracle="""
SELECT round(am.c * 1.0 / pm.c, 6) AS am_pm_ratio
FROM (SELECT count(*) AS c FROM events
      WHERE hour(ts) BETWEEN 6 AND 11 AND event_type = 'view') am,
     (SELECT count(*) AS c FROM events
      WHERE hour(ts) BETWEEN 18 AND 23 AND event_type = 'view') pm
""",
)
def ds_q90_ampm_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q90 shape (query90.sql): ratio of morning to evening
    traffic — two scalar counts folded into one conditional aggregate
    (single scan; the reference plans two scans + nested-loop join)."""
    ev = load_tables(spark, sf_dir)["events"]
    h = F.hour("ts")
    am = F.sum(F.when(h.between(6, 11), 1).otherwise(0))
    pm = F.sum(F.when(h.between(18, 23), 1).otherwise(0))
    return (
        ev.filter(F.col("event_type") == "view")
        .agg(F.round(am * 1.0 / pm, 6).alias("am_pm_ratio"))
    )


sql_query(
    "ds_q93_returns_adjust",
    """
SELECT c_custkey,
       round(sum(CASE WHEN l_returnflag = 'R'
                      THEN -l_extendedprice * (1 - l_discount)
                      ELSE  l_extendedprice * (1 - l_discount) END), 2) AS net_sales
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey
ORDER BY net_sales, c_custkey
LIMIT 100
""",
)


@query(
    "ds_q95_multi_supplier",
    oracle="""
WITH per AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS ns,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS late,
         sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey
)
SELECT count(*) AS n_orders, round(sum(rev), 2) AS total_rev
FROM per WHERE ns >= 2 AND late = 1
""",
)
def ds_q95_multi_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q95 shape (query95.sql, ws_wh two-warehouse orders): count
    orders fulfilled from >= 2 distinct suppliers with at least one
    late line. The reference expresses this with two EXISTS self-joins
    of web_sales; here the per-order supplier NDV and lateness flag come
    from the one order-grain aggregate the revenue sum already needs.
    Supplier NDV is size(collect_set(...)), not countDistinct: an order
    has a bounded line count, so the set state is tiny and the aggregate
    stays single-shuffle (countDistinct plans a second exchange keyed on
    (orderkey, suppkey) — 2x the shuffled bytes for no benefit here)."""
    t = load_tables(spark, sf_dir)
    # Aggregate BEFORE the join (r12, guide §2.3): per-order state needs
    # o_orderdate only for the lateness flag, and "any line later than
    # orderdate+90" == "max(l_shipdate) > orderdate+90" — so the whole
    # order-grain aggregate runs on lineitem alone (map-side partials,
    # ns>=2 filter applied pre-join) and the orders join moves the few
    # qualifying aggregated rows, keyed on the partitioning the agg
    # already established.
    per = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).cast("long").alias("ns"),
            F.max("l_shipdate").alias("max_ship"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .filter(F.col("ns") >= 2)
    )
    return (
        per.join(t["orders"].select("o_orderkey", "o_orderdate"),
                 F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("max_ship") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("rev"), 2).alias("total_rev"))
    )


@query(
    "ds_q97_channel_overlap",
    oracle="""
WITH a AS (
  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'O'
),
b AS (
  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'F'
)
SELECT sum(CASE WHEN a.ck IS NOT NULL AND b.ck IS NOT NULL THEN 1 ELSE 0 END) AS both_channels,
       sum(CASE WHEN a.ck IS NOT NULL AND b.ck IS NULL THEN 1 ELSE 0 END) AS only_open,
       sum(CASE WHEN a.ck IS NULL AND b.ck IS NOT NULL THEN 1 ELSE 0 END) AS only_finished
FROM a FULL OUTER JOIN b ON a.ck = b.ck AND a.pk = b.pk
""",
)
def ds_q97_channel_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q97 shape (query97.sql): customer-part overlap between two
    sales channels. The FULL OUTER JOIN over two distinct key sets is a
    per-(custkey, partkey) channel-flag aggregate — the groupBy is both
    distincts at once, the flag pair is the join's null pattern, and the
    lineitem-orders pipeline runs once instead of twice."""
    t = load_tables(spark, sf_dir)
    li_o = t["lineitem"].join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    pairs = (
        li_o.filter(F.col("l_linestatus").isin("O", "F"))
        .groupBy("o_custkey", "l_partkey")
        .agg(F.max(F.when(F.col("l_linestatus") == "O", F.lit(1))).alias("in_o"),
             F.max(F.when(F.col("l_linestatus") == "F", F.lit(1))).alias("in_f"))
    )
    return pairs.agg(
        F.sum(F.when(F.col("in_o").isNotNull() & F.col("in_f").isNotNull(), 1).otherwise(0)).alias("both_channels"),
        F.sum(F.when(F.col("in_o").isNotNull() & F.col("in_f").isNull(), 1).otherwise(0)).alias("only_open"),
        F.sum(F.when(F.col("in_o").isNull() & F.col("in_f").isNotNull(), 1).otherwise(0)).alias("only_finished"),
    )


@query(
    "ds_q6_above_avg_price",
    oracle="""
WITH ap AS (SELECT p_type, avg(p_retailprice) AS a FROM part GROUP BY p_type)
SELECT n_name, count(*) AS cnt
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN ap       ON part.p_type = ap.p_type
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE p_retailprice > 1.2 * a AND year(o_orderdate) = 1995
GROUP BY n_name HAVING count(*) >= 10
ORDER BY cnt, n_name
""",
)
def ds_q6_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q6 shape (query6.sql): customers' nations buying items priced
    >= 1.2x their category average. The category average is a window over
    the part dimension (200k rows at SF100k — no fact scan), joined back
    broadcast; one fact aggregate to n_name."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("p_type")
    part_avg = t["part"].withColumn("a", F.avg("p_retailprice").over(w))
    return (
        t["lineitem"]
        .join(F.broadcast(part_avg.filter(F.col("p_retailprice") > 1.2 * F.col("a"))),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"].filter(year_between("o_orderdate", 1995)),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))[0])
        .filter(F.col("n_name").isNotNull())
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 10)
        .orderBy("cnt", "n_name")
    )


sql_query(
    "ds_q15_or_predicates",
    """
SELECT n_name, round(sum(o_totalprice), 2) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE (c_acctbal > 9000 OR c_mktsegment IN ('BUILDING', 'MACHINERY'))
  AND year(o_orderdate) = 1996 AND quarter(o_orderdate) = 1
GROUP BY n_name HAVING sum(o_totalprice) > 50000
ORDER BY n_name
""",
)


@query(
    "ds_q23_frequent_best",
    oracle="""
WITH freq AS (
  SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1995
  GROUP BY l_partkey HAVING count(*) > 4
),
best AS (
  SELECT o_custkey FROM orders
  GROUP BY o_custkey HAVING sum(o_totalprice) > 500000
)
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS total
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN freq   ON lineitem.l_partkey = freq.l_partkey
JOIN best   ON orders.o_custkey = best.o_custkey
WHERE year(l_shipdate) = 1996
""",
)
def ds_q23_frequent_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 shape (query23.sql): sales of frequently-bought items to
    best customers. Both qualifying sets are aggregates reduced to bare
    keys — semi-join reductions that broadcast back against the fact
    (the heavy CROSS of TPC-DS's CTEs never materializes)."""
    t = load_tables(spark, sf_dir)
    freq = (
        t["lineitem"].filter(year_between("l_shipdate", 1995))
        .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 4).select(F.col("l_partkey").alias("f_partkey"))
    )
    best = (
        t["orders"].groupBy("o_custkey").agg(F.sum("o_totalprice").alias("tot"))
        .filter(F.col("tot") > 500000).select(F.col("o_custkey").alias("b_custkey"))
    )
    return (
        t["lineitem"].filter(year_between("l_shipdate", 1996))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(freq, F.col("l_partkey") == F.col("f_partkey"), "left_semi")
        .join(best, F.col("o_custkey") == F.col("b_custkey"), "left_semi")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total"))
    )


@query(
    "ds_q29_quantity_flow",
    oracle="""
SELECT p_brand,
       round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END), 2) AS sold_qty,
       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END), 2) AS returned_qty,
       round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END), 2) AS ack_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE year(l_shipdate) BETWEEN 1995 AND 1997
GROUP BY p_brand ORDER BY p_brand LIMIT 100
""",
)
def ds_q29_quantity_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q29 shape (query29.sql): quantity sold / returned / re-flowed
    per brand across a 3-year window. TPC-DS joins store_sales x
    store_returns x catalog_sales; the fixture folds the flow states into
    one conditional aggregate — one scan, one shuffle."""
    t = load_tables(spark, sf_dir)

    def flow(flag):
        return F.round(F.sum(F.when(F.col("l_returnflag") == flag, F.col("l_quantity")).otherwise(0)), 2)

    return (
        t["lineitem"].filter(year_between("l_shipdate", 1995, 1997))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(flow("N").alias("sold_qty"), flow("R").alias("returned_qty"), flow("A").alias("ack_qty"))
        .orderBy("p_brand")
        .limit(100)
    )


@query(
    "ds_q48_band_or",
    oracle="""
SELECT round(sum(l_quantity), 2) AS total_qty
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE (c_mktsegment = 'BUILDING'   AND c_acctbal BETWEEN 0    AND 3000  AND l_quantity BETWEEN 1  AND 20)
   OR (c_mktsegment = 'MACHINERY'  AND c_acctbal BETWEEN 3000 AND 6000  AND l_quantity BETWEEN 21 AND 35)
   OR (c_mktsegment = 'AUTOMOBILE' AND c_acctbal BETWEEN 6000 AND 10000 AND l_quantity BETWEEN 36 AND 50)
""",
)
def ds_q48_band_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q48 shape (query48.sql): a single scalar sum under an
    OR-of-band-predicates battery spanning fact and dimension columns.
    The disjunction evaluates post-join in one pass (no per-branch
    subplans)."""
    t = load_tables(spark, sf_dir)
    q, bal, seg = F.col("l_quantity"), F.col("c_acctbal"), F.col("c_mktsegment")
    cond = (
        ((seg == "BUILDING") & bal.between(0, 3000) & q.between(1, 20))
        | ((seg == "MACHINERY") & bal.between(3000, 6000) & q.between(21, 35))
        | ((seg == "AUTOMOBILE") & bal.between(6000, 10000) & q.between(36, 50))
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(cond)
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@query(
    "ds_q59_dow_pivot",
    oracle="""
WITH w AS (
  SELECT year(l_shipdate) AS y, weekofyear(l_shipdate) AS wk,
         sum(CASE WHEN isodow(l_shipdate) = 1 THEN l_extendedprice END) AS mon,
         sum(CASE WHEN isodow(l_shipdate) = 3 THEN l_extendedprice END) AS wed,
         sum(CASE WHEN isodow(l_shipdate) = 5 THEN l_extendedprice END) AS fri,
         sum(CASE WHEN isodow(l_shipdate) = 7 THEN l_extendedprice END) AS sun
  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
  GROUP BY year(l_shipdate), weekofyear(l_shipdate)
)
SELECT a.wk AS wk, round(b.mon / a.mon, 6) AS mon_ratio,
       round(b.wed / a.wed, 6) AS wed_ratio,
       round(b.fri / a.fri, 6) AS fri_ratio,
       round(b.sun / a.sun, 6) AS sun_ratio
FROM w a JOIN w b ON a.wk = b.wk AND a.y = 1995 AND b.y = 1996
ORDER BY wk
""",
)
def ds_q59_dow_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape (query59.sql): day-of-week revenue pivot per week,
    ratio against the same week one year later. The year alignment is a
    (year x dow) conditional-aggregate pivot — ONE scan, one shuffle to
    wk, no self-join (Catalyst planned the aggregate once per join
    side). The inner-join existence requirement — the week must have
    rows in BOTH years even if a tracked weekday's sum is NULL — is
    preserved by the conditional per-year row counts."""
    t = load_tables(spark, sf_dir)
    yr = F.year("l_shipdate")
    dow = F.weekday("l_shipdate") + 1  # 1=Mon..7=Sun, matches DuckDB isodow

    def band(y, d):
        return F.sum(F.when((yr == y) & (dow == d), F.col("l_extendedprice")))

    return (
        t["lineitem"].filter(year_between("l_shipdate", 1995, 1996))
        .groupBy(F.weekofyear("l_shipdate").alias("wk"))
        .agg(
            band(1995, 1).alias("mon"), band(1995, 3).alias("wed"),
            band(1995, 5).alias("fri"), band(1995, 7).alias("sun"),
            band(1996, 1).alias("mon_b"), band(1996, 3).alias("wed_b"),
            band(1996, 5).alias("fri_b"), band(1996, 7).alias("sun_b"),
            F.count(F.when(yr == 1995, F.lit(1))).alias("_n_1995"),
            F.count(F.when(yr == 1996, F.lit(1))).alias("_n_1996"),
        )
        .filter((F.col("_n_1995") > 0) & (F.col("_n_1996") > 0))
        .select(
            "wk",
            F.round(F.col("mon_b") / F.col("mon"), 6).alias("mon_ratio"),
            F.round(F.col("wed_b") / F.col("wed"), 6).alias("wed_ratio"),
            F.round(F.col("fri_b") / F.col("fri"), 6).alias("fri_ratio"),
            F.round(F.col("sun_b") / F.col("sun"), 6).alias("sun_ratio"),
        )
        .orderBy("wk")
    )


@query(
    "ds_q63_above_trend",
    oracle="""
WITH m AS (
  SELECT p_type, year(l_shipdate) * 100 + month(l_shipdate) AS ym,
         sum(l_extendedprice * (1 - l_discount)) AS s
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, year(l_shipdate) * 100 + month(l_shipdate)
)
SELECT p_type, ym, round(s, 2) AS monthly, round(a, 2) AS trend
FROM (SELECT p_type, ym, s, avg(s) OVER (PARTITION BY p_type) AS a FROM m)
WHERE s > 1.1 * a
ORDER BY p_type, ym
""",
)
def ds_q63_above_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q63 shape (query63.sql): months where a category's sales
    exceed 1.1x its own long-run average. The window average partitions
    on the same key the aggregate grouped by — Catalyst reuses the
    aggregate's exchange for the window."""
    t = load_tables(spark, sf_dir)
    m = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ym"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("s"))
    )
    w = Window.partitionBy("p_type")
    return (
        m.withColumn("a", F.avg("s").over(w))
        .filter(F.col("s") > 1.1 * F.col("a"))
        .select("p_type", "ym", F.round("s", 2).alias("monthly"), F.round("a", 2).alias("trend"))
        .orderBy("p_type", "ym")
    )


@query(
    "ds_q98_category_share",
    oracle="""
WITH r AS (
  SELECT p_type, p_brand, sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1995
  GROUP BY p_type, p_brand
)
SELECT p_type, p_brand, round(rev, 2) AS rev,
       round(rev * 100 / sum(rev) OVER (PARTITION BY p_type), 4) AS share
FROM r ORDER BY p_type, p_brand
""",
)
def ds_q98_category_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q98 shape (query98.sql): revenue share of each item within
    its category (ratio-to-report window over the category partition).
    The share window repartitions only the slim aggregate output."""
    t = load_tables(spark, sf_dir)
    r = (
        t["lineitem"].filter(year_between("l_shipdate", 1995))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    w = Window.partitionBy("p_type")
    return (
        r.select(
            "p_type", "p_brand", F.round("rev", 2).alias("rev"),
            F.round(F.col("rev") * 100 / F.sum("rev").over(w), 4).alias("share"),
        )
        .orderBy("p_type", "p_brand")
    )


@query(
    "ds_q9_bucket_ratios",
    oracle="""
SELECT round(avg(CASE WHEN l_quantity BETWEEN 1  AND 10 THEN l_extendedprice END), 4) AS b1,
       round(avg(CASE WHEN l_quantity BETWEEN 11 AND 20 THEN l_extendedprice END), 4) AS b2,
       round(avg(CASE WHEN l_quantity BETWEEN 21 AND 30 THEN l_extendedprice END), 4) AS b3,
       round(avg(CASE WHEN l_quantity BETWEEN 31 AND 40 THEN l_extendedprice END), 4) AS b4,
       round(avg(CASE WHEN l_quantity BETWEEN 41 AND 50 THEN l_extendedprice END), 4) AS b5
FROM lineitem
""",
)
def ds_q9_bucket_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q9 shape (query9.sql): per-quantity-bucket price statistics.
    The literal form is 15 scalar subqueries (3 per bucket) each scanning
    the fact; here all five buckets are conditional aggregates in ONE
    scan — the same single-pass rewrite the reference's Nereids
    MergeAggregate targets."""
    t = load_tables(spark, sf_dir)

    def bucket(lo, hi):
        return F.round(
            F.avg(F.when(F.col("l_quantity").between(lo, hi), F.col("l_extendedprice"))), 4
        )

    return t["lineitem"].agg(
        bucket(1, 10).alias("b1"), bucket(11, 20).alias("b2"), bucket(21, 30).alias("b3"),
        bucket(31, 40).alias("b4"), bucket(41, 50).alias("b5"),
    )


sql_query(
    "ds_q17_variation",
    """
WITH s AS (
  SELECT p_brand, n_name,
         avg(l_quantity) AS mean_qty,
         stddev_samp(l_quantity) AS std_qty,
         count(*) AS cnt
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY p_brand, n_name
)
SELECT p_brand, n_name, round(mean_qty, 4) AS mean_qty,
       round(std_qty / mean_qty, 4) AS cov
FROM s
WHERE cnt >= 5 AND std_qty / mean_qty > 0.62
ORDER BY p_brand, n_name
""",
)


@query(
    "ds_q62_latency_bands",
    oracle="""
SELECT n_name,
       sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS d30,
       sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) BETWEEN 31 AND 60 THEN 1 ELSE 0 END) AS d60,
       sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) BETWEEN 61 AND 90 THEN 1 ELSE 0 END) AS d90,
       sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) BETWEEN 91 AND 120 THEN 1 ELSE 0 END) AS d120,
       sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 120 THEN 1 ELSE 0 END) AS dmore
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE year(o_orderdate) = 1996
GROUP BY n_name ORDER BY n_name
""",
)
def ds_q62_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q62/q99 shape (query62.sql): shipping-latency band matrix
    per carrier/warehouse — here per supplier nation (the fixture has no
    shipmode). One conditional-aggregate pass; the band CASEs share the
    datediff subexpression."""
    t = load_tables(spark, sf_dir)
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))

    def band(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    return (
        t["lineitem"]
        .join(t["orders"].filter(year_between("o_orderdate", 1996)),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))[0])
        .filter(F.col("n_name").isNotNull())
        .groupBy("n_name")
        .agg(
            band(lat <= 30).alias("d30"),
            band(lat.between(31, 60)).alias("d60"),
            band(lat.between(61, 90)).alias("d90"),
            band(lat.between(91, 120)).alias("d120"),
            band(lat > 120).alias("dmore"),
        )
        .orderBy("n_name")
    )


@query(
    "ds_q3_brand_year",
    oracle="""
SELECT year(l_shipdate) AS yr, p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = 'STANDARD'
GROUP BY yr, p_brand
ORDER BY yr, rev DESC, p_brand
""",
)
def ds_q3_brand_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q3 shape (query3.sql): brand revenue by year for one
    manufacturer class. Part filter broadcasts; one partial+final agg."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_type") == "STANDARD")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").alias("yr"), F.col("p_brand"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev"))
        .orderBy("yr", F.col("rev").desc(), "p_brand")
    )


sql_query(
    "ds_q7_item_metrics",
    """
SELECT p_brand,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS cnt
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part ON l_partkey = p_partkey
WHERE c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
GROUP BY p_brand ORDER BY p_brand
""",
)


@query(
    "ds_q8_preferred_nations",
    oracle="""
WITH preferred AS (
  SELECT c_nationkey FROM customer GROUP BY c_nationkey HAVING count(*) >= 25
)
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE c_nationkey IN (SELECT c_nationkey FROM preferred)
GROUP BY n_name ORDER BY n_name
""",
)
def ds_q8_preferred_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q8 shape (query8.sql): revenue restricted to 'preferred'
    geographies found by a grouped-HAVING subquery (zip-substr analog).
    The preferred set is tiny -> broadcast semi join."""
    t = load_tables(spark, sf_dir)
    preferred = (
        t["customer"].groupBy("c_nationkey").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 25).select("c_nationkey")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(preferred), "c_nationkey", "left_semi")
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))[0])
        .filter(F.col("n_name").isNotNull())
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev"))
        .orderBy("n_name")
    )


@query(
    "ds_q12_type_share",
    oracle="""
WITH itemrev AS (
  SELECT p_type, p_brand, round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-03-31'
  GROUP BY p_type, p_brand
)
SELECT p_type, p_brand, rev,
       round(rev * 100.0 / sum(rev) OVER (PARTITION BY p_type), 6) AS revshare
FROM itemrev ORDER BY p_type, p_brand
""",
)
def ds_q12_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q12/q20 shape (query12.sql): 30-day revenue with
    ratio_to_report share within the item class. The share window
    partitions on p_type so it reuses the aggregate's shuffle."""
    t = load_tables(spark, sf_dir)
    itemrev = (
        t["lineitem"]
        .filter((F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-03-31"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev"))
    )
    w = Window.partitionBy("p_type")
    return itemrev.select(
        "p_type", "p_brand", "rev",
        F.round(F.col("rev") * 100.0 / F.sum("rev").over(w), 6).alias("revshare"),
    ).orderBy("p_type", "p_brand")


@query(
    "ds_q13_band_averages",
    oracle="""
SELECT round(avg(CASE WHEN c_mktsegment = 'BUILDING'  AND o_totalprice BETWEEN 0     AND 50000  THEN o_totalprice END), 6) AS avg_low,
       round(avg(CASE WHEN c_mktsegment = 'MACHINERY' AND o_totalprice BETWEEN 50000 AND 150000 THEN o_totalprice END), 6) AS avg_mid,
       round(avg(CASE WHEN c_mktsegment = 'AUTOMOBILE' AND o_totalprice > 150000 THEN o_totalprice END), 6) AS avg_high,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_cnt
FROM orders JOIN customer ON o_custkey = c_custkey
""",
)
def ds_q13_band_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q13 shape (query13.sql): single-row report of averages under
    OR'd demographic+price band predicates — one conditional-aggregate
    scan instead of three subqueries."""
    t = load_tables(spark, sf_dir)
    tp, seg = F.col("o_totalprice"), F.col("c_mktsegment")
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .agg(
            F.round(F.avg(F.when((seg == "BUILDING") & tp.between(0, 50000), tp)), 6).alias("avg_low"),
            F.round(F.avg(F.when((seg == "MACHINERY") & tp.between(50000, 150000), tp)), 6).alias("avg_mid"),
            F.round(F.avg(F.when((seg == "AUTOMOBILE") & (tp > 150000), tp)), 6).alias("avg_high"),
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).cast("long").alias("urgent_cnt"),
        )
    )


@query(
    "ds_q16_ship_check",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS nsupp,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return
  FROM lineitem GROUP BY l_orderkey
)
SELECT count(*) AS order_cnt, round(sum(o_totalprice), 4) AS total_price
FROM orders JOIN per_order ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND nsupp >= 2 AND has_return = 0
""",
)
def ds_q16_ship_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q16/q94 shape (query16.sql): orders shipped from >=2
    suppliers with no returned line — the EXISTS/NOT EXISTS pair folds
    into one grouped pass over lineitem (single shuffle), like ds_q95."""
    t = load_tables(spark, sf_dir)
    per_order = (
        t["lineitem"].groupBy("l_orderkey").agg(
            F.size(F.collect_set("l_suppkey")).alias("nsupp"),
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_return"),
        )
    )
    return (
        t["orders"]
        .filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .join(per_order, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter((F.col("nsupp") >= 2) & (F.col("has_return") == 0))
        .agg(F.count("*").alias("order_cnt"),
             F.round(F.sum("o_totalprice"), 4).alias("total_price"))
    )


sql_query(
    "ds_q19_cross_nation_brand",
    """
SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey <> s_nationkey AND month(l_shipdate) = 12
GROUP BY p_brand ORDER BY p_brand
""",
)


@query(
    "ds_q21_before_after",
    oracle="""
SELECT s_name,
       CAST(sum(CASE WHEN l_shipdate <  TIMESTAMP '1998-06-01' THEN l_quantity ELSE 0 END) AS DOUBLE) AS qty_before,
       CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-06-01' THEN l_quantity ELSE 0 END) AS DOUBLE) AS qty_after
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE l_shipdate BETWEEN TIMESTAMP '1998-04-02' AND TIMESTAMP '1998-07-31'
GROUP BY s_name
HAVING qty_before > 0 AND qty_after > 0
   AND qty_after / qty_before BETWEEN 2.0/3.0 AND 3.0/2.0
ORDER BY s_name
""",
)
def ds_q21_before_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q21 shape (query21.sql): inventory before/after a cutoff
    within a +/-60-day window, kept when the ratio stays in [2/3, 3/2]."""
    t = load_tables(spark, sf_dir)
    sd = F.col("l_shipdate")
    g = (
        t["lineitem"]
        .filter(sd.between("1998-04-02", "1998-07-31"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(
            F.sum(F.when(sd < "1998-06-01", F.col("l_quantity")).otherwise(0.0)).alias("qty_before"),
            F.sum(F.when(sd >= "1998-06-01", F.col("l_quantity")).otherwise(0.0)).alias("qty_after"),
        )
    )
    return (
        g.filter((F.col("qty_before") > 0) & (F.col("qty_after") > 0))
        .filter((F.col("qty_after") / F.col("qty_before")).between(2.0 / 3.0, 3.0 / 2.0))
        .orderBy("s_name")
    )


@query(
    "ds_q22_qty_rollup",
    oracle="""
SELECT coalesce(p_type, 'ALL') AS ptype,
       coalesce(p_brand, 'ALL') AS brand,
       CAST(grouping(p_type) * 2 + grouping(p_brand) AS BIGINT) AS gid,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY ROLLUP (p_type, p_brand)
ORDER BY gid, ptype, brand
""",
)
def ds_q22_qty_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q22 shape (query22.sql): average quantity-on-hand over the
    product hierarchy ROLLUP, ordered coarse-to-fine."""
    t = load_tables(spark, sf_dir)
    g = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .rollup("p_type", "p_brand")
        .agg(
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("cnt"),
            (F.grouping("p_type") * 2 + F.grouping("p_brand")).cast("bigint").alias("gid"),
        )
    )
    return g.select(
        F.coalesce("p_type", F.lit("ALL")).alias("ptype"),
        F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
        "gid", "avg_qty", "cnt",
    ).orderBy("gid", "ptype", "brand")


@query(
    "ds_q28_bucket_distinct",
    oracle="""
SELECT round(avg(CASE WHEN l_quantity BETWEEN 0  AND 15 THEN l_extendedprice END), 6) AS avg_b1,
       count(DISTINCT CASE WHEN l_quantity BETWEEN 0  AND 15 THEN l_extendedprice END) AS ndv_b1,
       round(avg(CASE WHEN l_quantity BETWEEN 16 AND 30 THEN l_extendedprice END), 6) AS avg_b2,
       count(DISTINCT CASE WHEN l_quantity BETWEEN 16 AND 30 THEN l_extendedprice END) AS ndv_b2,
       round(avg(CASE WHEN l_quantity BETWEEN 31 AND 50 THEN l_extendedprice END), 6) AS avg_b3,
       count(DISTINCT CASE WHEN l_quantity BETWEEN 31 AND 50 THEN l_extendedprice END) AS ndv_b3
FROM lineitem
WHERE l_discount BETWEEN 0.02 AND 0.09
""",
)
def ds_q28_bucket_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q28 shape (query28.sql): avg + exact NDV of list price in
    quantity buckets — the six subqueries fold into one multi-distinct
    conditional aggregate (Catalyst expand, one scan)."""
    t = load_tables(spark, sf_dir)
    q, ep = F.col("l_quantity"), F.col("l_extendedprice")
    li = t["lineitem"].filter(F.col("l_discount").between(0.02, 0.09))
    return li.agg(
        F.round(F.avg(F.when(q.between(0, 15), ep)), 6).alias("avg_b1"),
        F.countDistinct(F.when(q.between(0, 15), ep)).alias("ndv_b1"),
        F.round(F.avg(F.when(q.between(16, 30), ep)), 6).alias("avg_b2"),
        F.countDistinct(F.when(q.between(16, 30), ep)).alias("ndv_b2"),
        F.round(F.avg(F.when(q.between(31, 50), ep)), 6).alias("avg_b3"),
        F.countDistinct(F.when(q.between(31, 50), ep)).alias("ndv_b3"),
    )


sql_query(
    "ds_q30_user_above_avg",
    """
WITH per_user AS (
  SELECT user_id, round(sum(value), 4) AS total
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, total FROM per_user
WHERE total > 1.2 * (SELECT avg(total) FROM per_user)
ORDER BY user_id
""",
)


@query(
    "ds_q32_excess_discount",
    oracle="""
WITH per_part AS (
  SELECT l_partkey AS pk, avg(l_discount) AS avg_disc
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice), 4) AS excess_rev
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  AND l_discount > 1.3 * avg_disc
""",
)
def ds_q32_excess_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q32/q92 shape (query32.sql): revenue from lines discounted
    more than 1.3x the item's window average — the correlated scalar
    subquery decorrelates to a window average over l_partkey: one scan
    and one shuffle instead of a second aggregate pipeline joined back."""
    t = load_tables(spark, sf_dir)
    win = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    w = Window.partitionBy("l_partkey")
    return (
        win.withColumn("avg_disc", F.avg("l_discount").over(w))
        .filter(F.col("l_discount") > 1.3 * F.col("avg_disc"))
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("excess_rev"))
    )


@query(
    "ds_q37_inventory_range",
    oracle="""
WITH partsupp AS (
  SELECT p_partkey AS ps_partkey,
         CAST((p_partkey * 4 + i.i) % s.s_cnt + 1 AS BIGINT) AS ps_suppkey,
         CAST(1 + (p_partkey * 13
             + ((p_partkey * 4 + i.i) % s.s_cnt + 1) * 3) % 100 AS INT)
           AS ps_availqty
  FROM part,
       (SELECT count(*) AS s_cnt FROM supplier) s,
       generate_series(0, 3) i(i)
)
SELECT p_brand, count(*) AS sold_lines,
       round(sum(l_extendedprice), 4) AS rev
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_partkey IN (
    SELECT ps_partkey FROM partsupp WHERE ps_availqty BETWEEN 20 AND 40)
  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
GROUP BY p_brand ORDER BY p_brand
""",
)
def ds_q37_inventory_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q37/q82 shape (query37.sql): items whose on-hand inventory
    sits in a band AND sold in a 6-month window. ps_availqty is pure
    arithmetic over p_partkey (the partsupp generator), so the IN-set
    collapses to a closed-form predicate on the part dimension — the
    explode + distinct + semi join disappear into the existing broadcast
    part join. Same expressions as _partsupp, so the band membership is
    bit-identical."""
    from doris_spark.queries.tpch import _supplier_count

    t = load_tables(spark, sf_dir)
    s_cnt = F.lit(_supplier_count(spark, sf_dir, t))

    def _avail(i: int):
        sk = (F.col("p_partkey") * 4 + F.lit(i)) % s_cnt + 1
        return 1 + (F.col("p_partkey") * 13 + sk * 3) % 100

    in_band = _avail(0).between(20, 40)
    for _i in (1, 2, 3):
        in_band = in_band | _avail(_i).between(20, 40)
    return (
        t["lineitem"]
        .filter((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-07-01"))
        .join(F.broadcast(t["part"].filter(in_band)), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("sold_lines"),
             F.round(F.sum("l_extendedprice"), 4).alias("rev"))
        .orderBy("p_brand")
    )


@query(
    "ds_q39_monthly_outliers",
    oracle="""
WITH monthly AS (
  SELECT l_suppkey, month(l_shipdate) AS mon,
         round(sum(l_quantity), 4) AS qty
  FROM lineitem WHERE year(l_shipdate) = 1997
  GROUP BY l_suppkey, mon
), stats AS (
  SELECT l_suppkey, mon, qty,
         avg(qty)    OVER (PARTITION BY l_suppkey) AS mean_qty,
         stddev_samp(qty) OVER (PARTITION BY l_suppkey) AS sd_qty
  FROM monthly
)
SELECT l_suppkey, mon, qty,
       round(mean_qty, 6) AS mean_qty, round(sd_qty, 6) AS sd_qty
FROM stats
WHERE sd_qty IS NOT NULL AND abs(qty - mean_qty) > sd_qty
ORDER BY l_suppkey, mon
""",
)
def ds_q39_monthly_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q39 shape (query39.sql): monthly inventory whose deviation
    from the item-warehouse mean exceeds one stddev. The stats window
    partitions on the aggregate's own key — shuffle reused."""
    t = load_tables(spark, sf_dir)
    monthly = (
        t["lineitem"].filter(year_between("l_shipdate", 1997))
        .groupBy("l_suppkey", F.month("l_shipdate").alias("mon"))
        .agg(F.round(F.sum("l_quantity"), 4).alias("qty"))
    )
    w = Window.partitionBy("l_suppkey")
    stats = monthly.select(
        "l_suppkey", "mon", "qty",
        F.avg("qty").over(w).alias("mean_raw"),
        F.stddev_samp("qty").over(w).alias("sd_raw"),
    )
    return (
        stats.filter(F.col("sd_raw").isNotNull()
                     & (F.abs(F.col("qty") - F.col("mean_raw")) > F.col("sd_raw")))
        .select("l_suppkey", "mon", "qty",
                F.round("mean_raw", 6).alias("mean_qty"),
                F.round("sd_raw", 6).alias("sd_qty"))
        .orderBy("l_suppkey", "mon")
    )


sql_query(
    "ds_q40_net_before_after",
    """
SELECT p_brand,
       round(sum(CASE WHEN l_shipdate <  TIMESTAMP '1998-01-01'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS rev_before,
       round(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS rev_after
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_returnflag <> 'R'
  AND l_shipdate BETWEEN TIMESTAMP '1997-12-02' AND TIMESTAMP '1998-01-31'
GROUP BY p_brand ORDER BY p_brand
""",
)


@query(
    "ds_q42_category_month",
    oracle="""
SELECT year(l_shipdate) AS yr, p_type,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE month(l_shipdate) = 11
GROUP BY yr, p_type
ORDER BY rev DESC, yr, p_type
""",
)
def ds_q42_category_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q42/q52/q55 shape (query42.sql): category revenue for one
    calendar month across years, highest revenue first."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"].filter(F.month("l_shipdate") == 11)
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").alias("yr"), F.col("p_type"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev"))
        .orderBy(F.col("rev").desc(), "yr", "p_type")
    )


@query(
    "ds_q43_supplier_dow",
    oracle="""
SELECT s_name,
       round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 1 THEN l_extendedprice ELSE 0 END), 4) AS sun_rev,
       round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 2 THEN l_extendedprice ELSE 0 END), 4) AS mon_rev,
       round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 3 THEN l_extendedprice ELSE 0 END), 4) AS tue_rev,
       round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 4 THEN l_extendedprice ELSE 0 END), 4) AS wed_rev,
       round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 5 THEN l_extendedprice ELSE 0 END), 4) AS thu_rev,
       round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 6 THEN l_extendedprice ELSE 0 END), 4) AS fri_rev,
       round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 7 THEN l_extendedprice ELSE 0 END), 4) AS sat_rev
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE year(l_shipdate) = 1997
GROUP BY s_name ORDER BY s_name
""",
)
def ds_q43_supplier_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q43 shape (query43.sql): day-of-week revenue pivot per
    store (supplier) for one year — one conditional-aggregate pass.

    DuckDB dayofweek() is 0=Sunday..6; Spark dayofweek() is 1=Sunday..7,
    so the oracle uses DuckDB's 1-based ISO-adjusted form below."""
    t = load_tables(spark, sf_dir)
    dow = F.dayofweek("l_shipdate")

    def day(n, name):
        return F.round(F.sum(F.when(dow == n, F.col("l_extendedprice")).otherwise(0.0)), 4).alias(name)

    return (
        t["lineitem"].filter(year_between("l_shipdate", 1997))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(day(1, "sun_rev"), day(2, "mon_rev"), day(3, "tue_rev"),
             day(4, "wed_rev"), day(5, "thu_rev"), day(6, "fri_rev"),
             day(7, "sat_rev"))
        .orderBy("s_name")
    )


@query(
    "ds_q44_best_worst",
    oracle="""
WITH perf AS (
  SELECT l_partkey, round(avg(l_extendedprice * (1 - l_discount)), 4) AS avg_net
  FROM lineitem GROUP BY l_partkey
), best AS (
  SELECT row_number() OVER (ORDER BY avg_net DESC, l_partkey) AS rnk, l_partkey AS best_pk
  FROM perf
), worst AS (
  SELECT row_number() OVER (ORDER BY avg_net ASC, l_partkey) AS rnk, l_partkey AS worst_pk
  FROM perf
)
SELECT b.rnk AS rnk, pb.p_name AS best_name, pw.p_name AS worst_name
FROM best b JOIN worst w ON b.rnk = w.rnk
JOIN part pb ON b.best_pk = pb.p_partkey
JOIN part pw ON w.worst_pk = pw.p_partkey
WHERE b.rnk <= 10 ORDER BY rnk
""",
)
def ds_q44_best_worst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q44 shape (query44.sql): best and worst performing items by
    average net revenue, paired by rank. Both rankings come from ONE
    grouped aggregate; the two global TopN sorts run on its output."""
    t = load_tables(spark, sf_dir)
    perf = (
        t["lineitem"].groupBy("l_partkey")
        .agg(F.round(F.avg(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("avg_net"))
        # Both TopN pipelines (best and worst) consume this aggregate;
        # materialize it once instead of scanning+aggregating lineitem twice.
        .localCheckpoint(eager=False)
    )
    # TakeOrderedAndProject pulls only 10 rows to the driver side of the
    # sort; the row_number window then runs on a 10-row set (no global
    # single-partition window over the full aggregate).
    top_b = perf.orderBy(F.col("avg_net").desc(), F.col("l_partkey")).limit(10)
    top_w = perf.orderBy(F.col("avg_net").asc(), F.col("l_partkey")).limit(10)
    wb = Window.orderBy(F.col("avg_net").desc(), F.col("l_partkey"))
    ww = Window.orderBy(F.col("avg_net").asc(), F.col("l_partkey"))
    best = top_b.select(F.row_number().over(wb).alias("rnk"),
                        F.col("l_partkey").alias("best_pk"))
    worst = top_w.select(F.row_number().over(ww).alias("rnk"),
                         F.col("l_partkey").alias("worst_pk"))
    part = t["part"]
    return (
        best.join(worst, "rnk")
        .join(F.broadcast(part.select(F.col("p_partkey").alias("best_pk"),
                                      F.col("p_name").alias("best_name"))), "best_pk")
        .join(F.broadcast(part.select(F.col("p_partkey").alias("worst_pk"),
                                      F.col("p_name").alias("worst_name"))), "worst_pk")
        .select("rnk", "best_name", "worst_name")
        .orderBy("rnk")
    )


sql_query(
    "ds_q45_list_or_subquery",
    """
WITH big_buyers AS (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) > 30
)
SELECT n_name, round(sum(o_totalprice), 4) AS rev
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_7')
   OR o_custkey IN (SELECT o_custkey FROM big_buyers)
GROUP BY n_name ORDER BY n_name
""",
)


sql_query(
    "ds_q49_return_ratios",
    """
WITH ratios AS (
  SELECT l_linestatus AS channel, p_brand,
         round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)
               / sum(l_quantity), 6) AS ret_ratio
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY channel, p_brand
)
SELECT channel, p_brand, ret_ratio,
       row_number() OVER (PARTITION BY channel
                          ORDER BY ret_ratio DESC, p_brand) AS rnk
FROM ratios
QUALIFY rnk <= 10
ORDER BY channel, rnk
""",
)


@query(
    "ds_q50_return_latency",
    oracle="""
SELECT n_name,
       CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) BETWEEN 31 AND 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
       CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) BETWEEN 61 AND 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
       CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY n_name ORDER BY n_name
""",
)
def ds_q50_return_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q50 shape (query50.sql): days-until-return band matrix —
    returned lines only, banded per customer nation (q62 bands the full
    flow per supplier nation; this is the returns path)."""
    t = load_tables(spark, sf_dir)
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))

    def band(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))[0])
        .filter(F.col("n_name").isNotNull())
        .groupBy("n_name")
        .agg(band(lat <= 30, "d30"), band(lat.between(31, 60), "d60"),
             band(lat.between(61, 90), "d90"), band(lat > 90, "dmore"))
        .orderBy("n_name")
    )


@query(
    "ds_q53_quarterly_deviation",
    oracle="""
WITH q AS (
  SELECT p_brand, quarter(l_shipdate) AS qtr,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1997
  GROUP BY p_brand, qtr
)
SELECT p_brand, qtr, rev, round(avg_rev, 6) AS avg_rev
FROM (
  SELECT p_brand, qtr, rev, avg(rev) OVER (PARTITION BY p_brand) AS avg_rev
  FROM q
)
WHERE avg_rev > 0 AND abs(rev - avg_rev) / avg_rev > 0.1
ORDER BY p_brand, qtr
""",
)
def ds_q53_quarterly_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q53 shape (query53.sql): quarterly brand revenue kept when
    it deviates >10% from the brand's own quarterly average."""
    t = load_tables(spark, sf_dir)
    q = (
        t["lineitem"].filter(year_between("l_shipdate", 1997))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.quarter("l_shipdate").alias("qtr"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev"))
    )
    w = Window.partitionBy("p_brand")
    return (
        q.withColumn("avg_raw", F.avg("rev").over(w))
        .filter((F.col("avg_raw") > 0)
                & (F.abs(F.col("rev") - F.col("avg_raw")) / F.col("avg_raw") > 0.1))
        .select("p_brand", "qtr", "rev", F.round("avg_raw", 6).alias("avg_rev"))
        .orderBy("p_brand", "qtr")
    )


@query(
    "ds_q56_channel_items",
    oracle="""
WITH chan AS (
  SELECT p_brand, l_returnflag AS channel,
         sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size < 10
  GROUP BY p_brand, channel
)
SELECT p_brand, round(sum(rev), 4) AS total_rev
FROM chan GROUP BY p_brand ORDER BY total_rev DESC, p_brand
""",
)
def ds_q56_channel_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q56/q60 shape (query56.sql): item revenue unioned across
    the three channels then re-totaled per item. The union is a single
    two-key aggregate followed by a roll-up to the item."""
    t = load_tables(spark, sf_dir)
    chan = (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_size") < 10)),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.col("l_returnflag").alias("channel"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    return (
        chan.groupBy("p_brand")
        .agg(F.round(F.sum("rev"), 4).alias("total_rev"))
        .orderBy(F.col("total_rev").desc(), "p_brand")
    )


@query(
    "ds_q58_equal_channels",
    oracle="""
WITH chan AS (
  SELECT l_partkey,
         sum(CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0 END) AS rev_a,
         sum(CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0 END) AS rev_n,
         sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS rev_r
  FROM lineitem GROUP BY l_partkey
), bal AS (
  SELECT l_partkey, rev_a, rev_n, rev_r
  FROM chan
  WHERE rev_a + rev_n + rev_r > 0
    AND rev_a BETWEEN 0.7 * ((rev_a + rev_n + rev_r) / 3.0) AND 1.3 * ((rev_a + rev_n + rev_r) / 3.0)
    AND rev_n BETWEEN 0.7 * ((rev_a + rev_n + rev_r) / 3.0) AND 1.3 * ((rev_a + rev_n + rev_r) / 3.0)
    AND rev_r BETWEEN 0.7 * ((rev_a + rev_n + rev_r) / 3.0) AND 1.3 * ((rev_a + rev_n + rev_r) / 3.0)
)
SELECT p_brand, count(*) AS balanced_items,
       round(sum(rev_a), 4) AS tot_a,
       round(sum(rev_n), 4) AS tot_n,
       round(sum(rev_r), 4) AS tot_r
FROM bal JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
""",
)
def ds_q58_equal_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q58 shape (query58.sql): items whose revenue is balanced
    across the three channels (each within 30% of the item's channel
    average) — the three channel sums come from ONE conditional
    aggregate, not three subqueries, so one shuffle total."""
    t = load_tables(spark, sf_dir)

    def chan_sum(flag, name):
        return F.sum(
            F.when(F.col("l_returnflag") == flag, F.col("l_extendedprice")).otherwise(0.0)
        ).alias(name)

    chan = t["lineitem"].groupBy("l_partkey").agg(
        chan_sum("A", "rev_a"), chan_sum("N", "rev_n"), chan_sum("R", "rev_r")
    )
    avg3 = (F.col("rev_a") + F.col("rev_n") + F.col("rev_r")) / 3.0
    bal = chan.filter(
        ((F.col("rev_a") + F.col("rev_n") + F.col("rev_r")) > 0)
        & F.col("rev_a").between(0.7 * avg3, 1.3 * avg3)
        & F.col("rev_n").between(0.7 * avg3, 1.3 * avg3)
        & F.col("rev_r").between(0.7 * avg3, 1.3 * avg3)
    )
    return (
        bal.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("balanced_items"),
             F.round(F.sum("rev_a"), 4).alias("tot_a"),
             F.round(F.sum("rev_n"), 4).alias("tot_n"),
             F.round(F.sum("rev_r"), 4).alias("tot_r"))
        .orderBy("p_brand")
    )


@query(
    "ds_q61_promo_ratio",
    oracle="""
SELECT round(sum(CASE WHEN p_type = 'PROMO' AND l_discount >= 0.05
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS promo_rev,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev,
       round(sum(CASE WHEN p_type = 'PROMO' AND l_discount >= 0.05
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             * 100.0 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE year(l_shipdate) = 1998
""",
)
def ds_q61_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q61 shape (query61.sql): promotional revenue share — the
    promo and total legs fold into one conditional-aggregate scan
    instead of two subqueries joined on a cross."""
    t = load_tables(spark, sf_dir)
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    is_promo = (F.col("p_type") == "PROMO") & (F.col("l_discount") >= 0.05)
    return (
        t["lineitem"].filter(year_between("l_shipdate", 1998))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.sum(F.when(is_promo, net).otherwise(0.0)), 4).alias("promo_rev"),
            F.round(F.sum(net), 4).alias("total_rev"),
            F.round(F.sum(F.when(is_promo, net).otherwise(0.0)) * 100.0 / F.sum(net), 6).alias("promo_pct"),
        )
    )


@query(
    "ds_q64_price_drop_pairs",
    oracle="""
WITH py AS (
  SELECT l_partkey, year(l_shipdate) AS yr, avg(l_extendedprice) AS avg_price
  FROM lineitem GROUP BY l_partkey, yr
), seq AS (
  SELECT l_partkey, yr, avg_price,
         lag(avg_price) OVER (PARTITION BY l_partkey ORDER BY yr) AS prev_price,
         lag(yr)        OVER (PARTITION BY l_partkey ORDER BY yr) AS prev_yr
  FROM py
)
SELECT p_brand, count(*) AS drop_pairs,
       round(avg(prev_price - avg_price), 6) AS avg_drop
FROM seq JOIN part ON l_partkey = p_partkey
WHERE prev_yr = yr - 1 AND avg_price < prev_price * 0.9
GROUP BY p_brand ORDER BY p_brand
""",
)
def ds_q64_price_drop_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q64 shape (query64.sql): items sold in consecutive years
    whose average price dropped >10% — the cross-year self-join becomes
    a lag window over the per-item-year aggregate (one shuffle)."""
    t = load_tables(spark, sf_dir)
    py = (
        t["lineitem"]
        .groupBy("l_partkey", F.year("l_shipdate").alias("yr"))
        .agg(F.avg("l_extendedprice").alias("avg_price"))
    )
    w = Window.partitionBy("l_partkey").orderBy("yr")
    seq = py.select(
        "l_partkey", "yr", "avg_price",
        F.lag("avg_price").over(w).alias("prev_price"),
        F.lag("yr").over(w).alias("prev_yr"),
    )
    return (
        seq.filter((F.col("prev_yr") == F.col("yr") - 1)
                   & (F.col("avg_price") < F.col("prev_price") * 0.9))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("drop_pairs"),
             F.round(F.avg(F.col("prev_price") - F.col("avg_price")), 6).alias("avg_drop"))
        .orderBy("p_brand")
    )


@query(
    "ds_q66_monthly_pivot",
    oracle="""
SELECT n_name,
       round(sum(CASE WHEN month(l_shipdate) = 1  THEN l_extendedprice ELSE 0 END), 4) AS m1,
       round(sum(CASE WHEN month(l_shipdate) = 2  THEN l_extendedprice ELSE 0 END), 4) AS m2,
       round(sum(CASE WHEN month(l_shipdate) = 3  THEN l_extendedprice ELSE 0 END), 4) AS m3,
       round(sum(CASE WHEN month(l_shipdate) = 4  THEN l_extendedprice ELSE 0 END), 4) AS m4,
       round(sum(CASE WHEN month(l_shipdate) = 5  THEN l_extendedprice ELSE 0 END), 4) AS m5,
       round(sum(CASE WHEN month(l_shipdate) = 6  THEN l_extendedprice ELSE 0 END), 4) AS m6,
       round(sum(CASE WHEN month(l_shipdate) = 7  THEN l_extendedprice ELSE 0 END), 4) AS m7,
       round(sum(CASE WHEN month(l_shipdate) = 8  THEN l_extendedprice ELSE 0 END), 4) AS m8,
       round(sum(CASE WHEN month(l_shipdate) = 9  THEN l_extendedprice ELSE 0 END), 4) AS m9,
       round(sum(CASE WHEN month(l_shipdate) = 10 THEN l_extendedprice ELSE 0 END), 4) AS m10,
       round(sum(CASE WHEN month(l_shipdate) = 11 THEN l_extendedprice ELSE 0 END), 4) AS m11,
       round(sum(CASE WHEN month(l_shipdate) = 12 THEN l_extendedprice ELSE 0 END), 4) AS m12
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE year(l_shipdate) = 1997
GROUP BY n_name ORDER BY n_name
""",
)
def ds_q66_monthly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q66 shape (query66.sql): warehouse monthly shipping pivot —
    12 month columns from one conditional-aggregate pass."""
    t = load_tables(spark, sf_dir)
    mon = F.month("l_shipdate")

    def m(n):
        return F.round(F.sum(F.when(mon == n, F.col("l_extendedprice")).otherwise(0.0)), 4).alias(f"m{n}")

    return (
        t["lineitem"].filter(year_between("l_shipdate", 1997))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))[0])
        .filter(F.col("n_name").isNotNull())
        .groupBy("n_name")
        .agg(*[m(n) for n in range(1, 13)])
        .orderBy("n_name")
    )


@query(
    "ds_q68_high_value_trips",
    oracle="""
SELECT c_name, o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS trip_total
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
GROUP BY c_name, o_orderkey
HAVING trip_total > 350000
ORDER BY c_name, o_orderkey
""",
)
def ds_q68_high_value_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q68 shape (query68.sql): high-ticket shopping trips for two
    demographic segments — order-grain aggregate with a HAVING cut."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"].filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("trip_total"))
        .filter(F.col("trip_total") > 350000)
        .orderBy("c_name", "o_orderkey")
    )


sql_query(
    "ds_q69_exclusive_customers",
    """
SELECT c_mktsegment, count(*) AS customers
FROM customer
WHERE c_custkey IN (
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
  AND c_custkey NOT IN (
    SELECT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)


@query(
    "ds_q70_top_nations_rollup",
    oracle="""
WITH nat_rev AS (
  SELECT r_name, n_name, sum(o_totalprice) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
), top5 AS (
  SELECT n_name FROM (
    SELECT n_name, row_number() OVER (PARTITION BY r_name ORDER BY rev DESC, n_name) AS rnk
    FROM nat_rev
  ) WHERE rnk <= 5
)
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS gid,
       round(sum(o_totalprice), 4) AS rev
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE n_name IN (SELECT n_name FROM top5)
GROUP BY ROLLUP (r_name, n_name)
ORDER BY gid, region, nation
""",
)
def ds_q70_top_nations_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q70 shape (query70.sql): profit ROLLUP over the geography
    hierarchy, restricted to each region's top-5 states found by a
    ranked subquery. sum() is algebraic, so the ROLLUP re-aggregates the
    SAME per-(region, nation) sums the ranking consumed — the fact
    pipeline runs once and the old second pass + semi join over the
    orders-customer join disappear (each nation maps to one region, so
    the n_name semi filter is the rnk filter)."""
    t = load_tables(spark, sf_dir)
    base = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))[0])
        .withColumn("r_name", nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))[1])
        .filter(F.col("n_name").isNotNull() & F.col("r_name").isNotNull())
    )
    nat_rev = base.groupBy("r_name", "n_name").agg(F.sum("o_totalprice").alias("rev"))
    w = Window.partitionBy("r_name").orderBy(F.col("rev").desc(), F.col("n_name"))
    top5 = (
        nat_rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5).select("r_name", "n_name", "rev")
    )
    g = (
        top5.rollup("r_name", "n_name")
        .agg(F.round(F.sum("rev"), 4).alias("rev"),
             (F.grouping("r_name") * 2 + F.grouping("n_name")).cast("bigint").alias("gid"))
    )
    return g.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("n_name", F.lit("ALL")).alias("nation"),
        "gid", "rev",
    ).orderBy("gid", "region", "nation")


@query(
    "ds_q72_inventory_shortfall",
    oracle="""
WITH partsupp AS (
  SELECT p_partkey AS ps_partkey,
         CAST((p_partkey * 4 + i.i) % s.s_cnt + 1 AS BIGINT) AS ps_suppkey,
         CAST(1 + (p_partkey * 13
             + ((p_partkey * 4 + i.i) % s.s_cnt + 1) * 3) % 100 AS INT)
           AS ps_availqty
  FROM part,
       (SELECT count(*) AS s_cnt FROM supplier) s,
       generate_series(0, 3) i(i)
)
SELECT p_brand, count(*) AS short_lines
FROM lineitem
JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN part ON l_partkey = p_partkey
WHERE ps_availqty < l_quantity
GROUP BY p_brand ORDER BY p_brand
""",
)
def ds_q72_inventory_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q72 shape (query72.sql): order lines whose on-hand
    inventory can't cover the ordered quantity — fact x partsupp join on
    (part, supplier) with the shortfall predicate."""
    from doris_spark.queries.tpch import _partsupp

    t = load_tables(spark, sf_dir)
    ps = _partsupp(spark, sf_dir, t).select("ps_partkey", "ps_suppkey", "ps_availqty")
    return (
        t["lineitem"]
        .join(ps, (F.col("l_partkey") == F.col("ps_partkey"))
              & (F.col("l_suppkey") == F.col("ps_suppkey")))
        .filter(F.col("ps_availqty") < F.col("l_quantity"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("short_lines"))
        .orderBy("p_brand")
    )


@query(
    "ds_q76_null_channel_counts",
    oracle="""
SELECT l_returnflag AS channel,
       year(l_shipdate) AS yr,
       coalesce(big.p_brand, 'UNKNOWN') AS brand,
       count(*) AS cnt,
       round(sum(l_extendedprice), 4) AS rev
FROM lineitem
LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size > 45) big
       ON l_partkey = big.p_partkey
GROUP BY channel, yr, brand
ORDER BY channel, yr, brand
""",
)
def ds_q76_null_channel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q76 shape (query76.sql): per-channel counts where a
    dimension key failed to resolve (NULL dim attribute bucketed as
    UNKNOWN) — left join against the sparse dim slice."""
    t = load_tables(spark, sf_dir)
    big = t["part"].filter(F.col("p_size") > 45).select("p_partkey", "p_brand")
    return (
        t["lineitem"]
        .join(F.broadcast(big), F.col("l_partkey") == F.col("p_partkey"), "left")
        .groupBy(F.col("l_returnflag").alias("channel"),
                 F.year("l_shipdate").alias("yr"),
                 F.coalesce("p_brand", F.lit("UNKNOWN")).alias("brand"))
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum("l_extendedprice"), 4).alias("rev"))
        .orderBy("channel", "yr", "brand")
    )


sql_query(
    "ds_q77_sales_returns_rollup",
    """
SELECT coalesce(l_linestatus, 'ALL') AS channel,
       coalesce(n_name, 'ALL') AS nation,
       CAST(grouping(l_linestatus) * 2 + grouping(n_name) AS BIGINT) AS gid,
       round(sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END), 4) AS sales_rev,
       round(sum(CASE WHEN l_returnflag =  'R' THEN l_extendedprice ELSE 0 END), 4) AS returns_rev
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY ROLLUP (l_linestatus, n_name)
ORDER BY gid, channel, nation
""",
)


sql_query(
    "ds_q78_channel_ratio",
    """
SELECT o_custkey AS custkey, year(l_shipdate) AS yr,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END) AS DOUBLE) AS open_qty,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END) AS DOUBLE) AS filled_qty,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END)
             / sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 6) AS ratio
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY custkey, yr
HAVING open_qty > 0 AND filled_qty > 0 AND open_qty / filled_qty > 2.0
ORDER BY custkey, yr
""",
)


@query(
    "ds_q79_best_trip",
    oracle="""
WITH trips AS (
  SELECT o_custkey, o_orderkey,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS trip_net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, o_orderkey
)
SELECT c_name, o_orderkey, trip_net
FROM (
  SELECT o_custkey, o_orderkey, trip_net,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY trip_net DESC, o_orderkey) AS rnk
  FROM trips
) ranked
JOIN customer ON o_custkey = c_custkey
WHERE rnk = 1 AND trip_net > 400000
ORDER BY c_name, o_orderkey
""",
)
def ds_q79_best_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q79 shape (query79.sql): each customer's single biggest
    shopping trip — per-customer top-1 via WindowGroupLimit, then a
    threshold cut before the dim join."""
    t = load_tables(spark, sf_dir)
    trips = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey", "o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("trip_net"))
    )
    w = Window.partitionBy("o_custkey").orderBy(F.col("trip_net").desc(), F.col("o_orderkey"))
    return (
        trips.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") == 1) & (F.col("trip_net") > 400000))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "o_orderkey", "trip_net")
        .orderBy("c_name", "o_orderkey")
    )


sql_query(
    "ds_q80_channel_net",
    """
SELECT coalesce(l_linestatus, 'ALL') AS channel,
       CAST(grouping(l_linestatus) AS BIGINT) AS gid,
       round(sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS gross_rev,
       round(sum(CASE WHEN l_returnflag =  'R' THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS returned_rev,
       round(sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice * (1 - l_discount)
                      ELSE -(l_extendedprice * (1 - l_discount)) END), 4) AS net_rev
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1997-08-01'
GROUP BY ROLLUP (l_linestatus)
ORDER BY gid, channel
""",
)


@query(
    "ds_q4_three_channel_growth",
    oracle="""
WITH per AS (
  SELECT o_custkey AS custkey,
         sum(CASE WHEN l_linestatus = 'O' AND year(l_shipdate) = 1997 THEN l_extendedprice ELSE 0 END) AS o_97,
         sum(CASE WHEN l_linestatus = 'O' AND year(l_shipdate) = 1998 THEN l_extendedprice ELSE 0 END) AS o_98,
         sum(CASE WHEN l_linestatus = 'F' AND year(l_shipdate) = 1997 THEN l_extendedprice ELSE 0 END) AS f_97,
         sum(CASE WHEN l_linestatus = 'F' AND year(l_shipdate) = 1998 THEN l_extendedprice ELSE 0 END) AS f_98
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(l_shipdate) IN (1997, 1998)
  GROUP BY custkey
)
SELECT custkey,
       round(o_98 / o_97, 6) AS open_growth,
       round(f_98 / f_97, 6) AS filled_growth
FROM per
WHERE o_97 > 0 AND f_97 > 0 AND o_98 / o_97 > f_98 / f_97
ORDER BY custkey
""",
)
def ds_q4_three_channel_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q4 shape (query4.sql): customers whose year-over-year
    growth in one channel outpaces another — the per-channel-per-year
    CTEs fold into ONE conditional aggregate keyed by customer."""
    t = load_tables(spark, sf_dir)

    def leg(status, yr):
        return F.sum(F.when((F.col("l_linestatus") == status)
                            & (F.year("l_shipdate") == yr),
                            F.col("l_extendedprice")).otherwise(0.0))

    # (r12: an order-grain pre-aggregate before the join A/B-measured
    # SLOWER here — 0.72 -> 0.80 s — the year filter already shrinks the
    # fact side and the extra rollup stage wasn't amortized; kept the
    # single aggregate.)
    per = (
        t["lineitem"].filter(year_between("l_shipdate", 1997, 1998))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(leg("O", 1997).alias("o_97"), leg("O", 1998).alias("o_98"),
             leg("F", 1997).alias("f_97"), leg("F", 1998).alias("f_98"))
    )
    return (
        per.filter((F.col("o_97") > 0) & (F.col("f_97") > 0)
                   & (F.col("o_98") / F.col("o_97") > F.col("f_98") / F.col("f_97")))
        .select("custkey",
                F.round(F.col("o_98") / F.col("o_97"), 6).alias("open_growth"),
                F.round(F.col("f_98") / F.col("f_97"), 6).alias("filled_growth"))
        .orderBy("custkey")
    )


sql_query(
    "ds_q10_active_demographics",
    """
SELECT c_mktsegment, n_name, count(*) AS customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey IN (
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
  AND (c_custkey IN (
         SELECT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_returnflag = 'R')
       OR c_custkey IN (
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'))
GROUP BY c_mktsegment, n_name
ORDER BY c_mktsegment, n_name
""",
)


sql_query(
    "ds_q24_same_nation_spend",
    """
WITH spend AS (
  SELECT c_name, p_brand, sum(l_extendedprice * (1 - l_discount)) AS net
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
  WHERE c_nationkey = s_nationkey
  GROUP BY c_name, p_brand
)
SELECT c_name, p_brand, round(net, 4) AS net
FROM spend
WHERE net > 1.3 * (SELECT avg(net) FROM spend)
ORDER BY c_name, p_brand
""",
)


@query(
    "ds_q25_profit_flow",
    oracle="""
SELECT p_brand,
       round(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-04-01' AND l_shipdate < TIMESTAMP '1997-05-01'
                       AND l_returnflag <> 'R'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS sold_net,
       round(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-05-01' AND l_shipdate < TIMESTAMP '1997-08-01'
                       AND l_returnflag = 'R'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS returned_net,
       round(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-08-01' AND l_shipdate < TIMESTAMP '1997-11-01'
                       AND l_returnflag <> 'R'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS resold_net
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-04-01' AND l_shipdate < TIMESTAMP '1997-11-01'
GROUP BY p_brand ORDER BY p_brand
""",
)
def ds_q25_profit_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q25 shape (query25.sql): sell -> return -> re-sell net
    profit flow across three consecutive windows, one scan."""
    t = load_tables(spark, sf_dir)
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sd, rf = F.col("l_shipdate"), F.col("l_returnflag")

    def leg(lo, hi, returned, name):
        cond = (sd >= lo) & (sd < hi) & ((rf == "R") if returned else (rf != "R"))
        return F.round(F.sum(F.when(cond, net).otherwise(0.0)), 4).alias(name)

    return (
        t["lineitem"].filter((sd >= "1997-04-01") & (sd < "1997-11-01"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(leg("1997-04-01", "1997-05-01", False, "sold_net"),
             leg("1997-05-01", "1997-08-01", True, "returned_net"),
             leg("1997-08-01", "1997-11-01", False, "resold_net"))
        .orderBy("p_brand")
    )


@query(
    "ds_q83_return_windows",
    oracle="""
WITH r AS (
  SELECT p_brand,
         sum(CASE WHEN month(l_shipdate) = 1 THEN l_quantity ELSE 0 END) AS w1,
         sum(CASE WHEN month(l_shipdate) = 2 THEN l_quantity ELSE 0 END) AS w2,
         sum(CASE WHEN month(l_shipdate) = 3 THEN l_quantity ELSE 0 END) AS w3
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_returnflag = 'R' AND year(l_shipdate) = 1998 AND month(l_shipdate) <= 3
  GROUP BY p_brand
)
SELECT p_brand,
       CAST(w1 AS DOUBLE) AS w1, CAST(w2 AS DOUBLE) AS w2, CAST(w3 AS DOUBLE) AS w3,
       round(w1 * 100.0 / (w1 + w2 + w3), 6) AS w1_pct,
       round(w2 * 100.0 / (w1 + w2 + w3), 6) AS w2_pct,
       round(w3 * 100.0 / (w1 + w2 + w3), 6) AS w3_pct
FROM r WHERE w1 + w2 + w3 > 0
ORDER BY p_brand
""",
)
def ds_q83_return_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q83 shape (query83.sql): returned quantity split across
    three date windows with each window's share of the total."""
    t = load_tables(spark, sf_dir)

    def w(n):
        return F.sum(F.when(F.month("l_shipdate") == n, F.col("l_quantity")).otherwise(0.0)).alias(f"w{n}")

    r = (
        t["lineitem"]
        # year==1998 & month<=3 as one exact pushable range (guide §6)
        .filter((F.col("l_returnflag") == "R")
                & (F.col("l_shipdate") >= F.lit("1998-01-01"))
                & (F.col("l_shipdate") < F.lit("1998-04-01")))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand").agg(w(1), w(2), w(3))
    )
    tot = F.col("w1") + F.col("w2") + F.col("w3")
    return (
        r.filter(tot > 0)
        .select("p_brand", "w1", "w2", "w3",
                F.round(F.col("w1") * 100.0 / tot, 6).alias("w1_pct"),
                F.round(F.col("w2") * 100.0 / tot, 6).alias("w2_pct"),
                F.round(F.col("w3") * 100.0 / tot, 6).alias("w3_pct"))
        .orderBy("p_brand")
    )


@query(
    "ds_q84_customer_lookup",
    oracle="""
SELECT c_custkey AS customer_id,
       c_name || ', ' || c_mktsegment AS customername,
       round(c_acctbal, 4) AS acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_name = 'NATION_5' AND c_acctbal BETWEEN 1000 AND 3000
ORDER BY customer_id
""",
)
def ds_q84_customer_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q84 shape (query84.sql): point lookup of customers in one
    geography and income band, rendered as a formatted id — dim filters
    prune before the (broadcast) join."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"].filter(F.col("c_acctbal").between(1000, 3000))
        .filter(
            nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))[0]
            == "NATION_5"
        )
        .select(F.col("c_custkey").alias("customer_id"),
                F.concat_ws(", ", "c_name", "c_mktsegment").alias("customername"),
                F.round("c_acctbal", 4).alias("acctbal"))
        .orderBy("customer_id")
    )


@query(
    "ds_q85_reason_bands",
    oracle="""
SELECT CASE WHEN l_quantity <= 15 THEN 'small'
            WHEN l_quantity <= 35 THEN 'medium'
            ELSE 'large' END AS reason_band,
       round(avg(l_extendedprice), 6) AS avg_refund,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS cnt
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND ((c_mktsegment = 'BUILDING' AND o_totalprice < 150000)
       OR (c_mktsegment = 'MACHINERY' AND o_totalprice >= 150000)
       OR (c_mktsegment = 'FURNITURE'))
GROUP BY reason_band ORDER BY reason_band
""",
)
def ds_q85_reason_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q85 shape (query85.sql): refund averages over reason bands
    under OR'd demographic+price predicates."""
    t = load_tables(spark, sf_dir)
    seg, tp = F.col("c_mktsegment"), F.col("o_totalprice")
    band = (
        F.when(F.col("l_quantity") <= 15, "small")
        .when(F.col("l_quantity") <= 35, "medium")
        .otherwise("large")
    )
    return (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(((seg == "BUILDING") & (tp < 150000))
                | ((seg == "MACHINERY") & (tp >= 150000))
                | (seg == "FURNITURE"))
        .groupBy(band.alias("reason_band"))
        .agg(F.round(F.avg("l_extendedprice"), 6).alias("avg_refund"),
             F.round(F.avg("l_discount"), 6).alias("avg_disc"),
             F.count("*").alias("cnt"))
        .orderBy("reason_band")
    )


@query(
    "ds_q86_hierarchy_rank",
    oracle="""
WITH g AS (
  SELECT coalesce(p_type, 'ALL') AS ptype,
         coalesce(p_brand, 'ALL') AS brand,
         CAST(grouping(p_type) * 2 + grouping(p_brand) AS BIGINT) AS gid,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY ROLLUP (p_type, p_brand)
)
SELECT ptype, brand, gid, rev,
       row_number() OVER (PARTITION BY gid, CASE WHEN gid = 0 THEN ptype END
                          ORDER BY rev DESC, ptype, brand) AS rank_in_parent
FROM g ORDER BY gid, ptype, brand
""",
)
def ds_q86_hierarchy_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q86 shape (query86.sql): ROLLUP over the product hierarchy
    with each row ranked inside its parent grouping level."""
    t = load_tables(spark, sf_dir)
    g = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .rollup("p_type", "p_brand")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev"),
             (F.grouping("p_type") * 2 + F.grouping("p_brand")).cast("bigint").alias("gid"))
        .select(F.coalesce("p_type", F.lit("ALL")).alias("ptype"),
                F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
                "gid", "rev")
    )
    w = Window.partitionBy(
        "gid", F.when(F.col("gid") == 0, F.col("ptype"))
    ).orderBy(F.col("rev").desc(), "ptype", "brand")
    return g.withColumn("rank_in_parent", F.row_number().over(w)).orderBy("gid", "ptype", "brand")


sql_query(
    "ds_q87_channel_except",
    """
SELECT count(*) AS exclusive_customers FROM (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_returnflag = 'R'
)
""",
)


@query(
    "ds_q91_returns_report",
    oracle="""
SELECT month(l_shipdate) AS mon, c_mktsegment, o_orderpriority,
       round(sum(l_extendedprice), 4) AS loss
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R' AND year(l_shipdate) = 1997
GROUP BY mon, c_mktsegment, o_orderpriority
ORDER BY mon, c_mktsegment, o_orderpriority
""",
)
def ds_q91_returns_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q91 shape (query91.sql): call-center returns loss report
    by month, demographic, and priority."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"].filter((F.col("l_returnflag") == "R") & (year_between("l_shipdate", 1997)))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.month("l_shipdate").alias("mon"), F.col("c_mktsegment"),
                 F.col("o_orderpriority"))
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("loss"))
        .orderBy("mon", "c_mktsegment", "o_orderpriority")
    )


@query(
    "ds_q96_time_band_count",
    oracle="""
SELECT count(*) AS cnt
FROM events
WHERE event_type = 'view' AND hour(ts) = 20 AND value > 0.5
""",
)
def ds_q96_time_band_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q96 shape (query96.sql): count of store traffic in one
    time-of-day band under dimension filters — a single filtered count
    whose predicates all reach the scan."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter((F.col("event_type") == "view") & (F.hour("ts") == 20)
                & (F.col("value") > 0.5))
        .agg(F.count("*").alias("cnt"))
    )
