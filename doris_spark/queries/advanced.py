"""Recursive CTE + sketch-family queries (driver correctness gate)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doris_spark.functions import sketches as SK
from doris_spark.queries import query, stable_key
from doris_spark.session import load_tables


@query(
    "rec_cte_bfs",
    oracle="""
WITH RECURSIVE
edges AS (
  SELECT n_nationkey AS src, (n_nationkey * 2 + 1) % 25 AS dst FROM nation
  UNION ALL
  SELECT n_nationkey AS src, (n_nationkey * 3 + 2) % 25 AS dst FROM nation
),
reach(node, depth) AS (
  SELECT 0 AS node, 0 AS depth
  UNION
  SELECT e.dst AS node, r.depth + 1 AS depth
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.depth < 10
)
SELECT node, min(depth) AS min_depth
FROM reach GROUP BY node ORDER BY node
""",
)
def rec_cte_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE reachability (BFS depths) over a derived graph
    (reference analog rec_cte_*_operator.h, FE
    LogicalRecursiveUnion.java). The literal depth bound (r.depth < 10)
    and the structurally bounded graph (25 nodes, out-degree 2 at every
    SF) let the fixpoint be statically unrolled into one lazy plan of
    broadcast joins — see the inline rationale; the native UnionLoop and
    the semi-naive loop (plans/recursive_cte.recursive_union) remain the
    general paths for unbounded-depth / UNION DISTINCT recursion.

    min(depth) in the final aggregate makes the result independent of
    visit multiplicity across levels, which is also what licenses
    dropping the SQL form's per-level DISTINCT in the unrolled plan."""
    from functools import reduce

    from doris_spark.session import register_views

    register_views(spark, sf_dir)  # reads the `nation` view
    # Statically unrolled fixpoint (r12, guide §2.4/§3.1): the recursion
    # depth is a LITERAL (r.depth < 10) and the graph is structurally
    # bounded at every scale factor — nation is 25 rows, each node has
    # exactly 2 out-edges, so level d holds at most 2^d ≤ 1024 path rows
    # (2047 total across all 11 levels). That makes the loop expressible
    # as ONE lazy plan: 10 broadcast joins against the 50-row edge table
    # (ReuseExchange builds the broadcast once) with NO per-level
    # materialization, where the native UnionLoop ran ~2 jobs per round
    # (22 jobs total) to checkpoint each level. The per-level SELECT
    # DISTINCT of the SQL form is dropped: the final aggregate
    # min(depth) GROUP BY node is duplicate-insensitive, and the set of
    # distinct (node, depth) pairs is unchanged by dedup — proved
    # row-identical against the native operator and the DuckDB oracle.
    # Measured same-session sf0.1 hot: 3.24 s/22 jobs -> 1.48 s/7 jobs.
    # For UNBOUNDED-depth or high-out-degree recursion this unroll would
    # be wrong (path-count explosion) — the native UnionLoop / semi-naive
    # loop in plans/recursive_cte.py remains the general path.
    # Scoped static confs (r11 VERDICT #4 rationale still applies): the
    # state is tiny, so one statically-planned shuffle partition is the
    # scale-correct plan; AQE would re-plan the final agg into extra jobs.
    scoped = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        nation = spark.table("nation")
        edges = (
            nation.select(
                F.col("n_nationkey").cast("bigint").alias("src"),
                ((F.col("n_nationkey") * 2 + 1) % 25).cast("bigint").alias("dst"),
            )
            .unionAll(
                nation.select(
                    F.col("n_nationkey").cast("bigint").alias("src"),
                    ((F.col("n_nationkey") * 3 + 2) % 25).cast("bigint").alias("dst"),
                )
            )
            # 50 rows; checkpointed so the chain reads nation once, not 20x.
            .localCheckpoint(eager=True)
        )
        level = spark.range(1).select(
            F.lit(0).cast("bigint").alias("node"), F.lit(0).alias("depth")
        )
        levels = [level]
        for d in range(1, 11):
            e = F.broadcast(edges).alias(f"e{d}")
            level = (
                level.alias("r")
                .join(e, F.col("r.node") == F.col(f"e{d}.src"))
                .select(F.col(f"e{d}.dst").alias("node"), F.lit(d).alias("depth"))
            )
            levels.append(level)
        reach = reduce(lambda a, b: a.unionAll(b), levels)
        # Eager so the scoped confs govern the actual execution.
        # Sorted before the checkpoint: its rows keep that order, and the
        # sort runs under the scoped confs too.
        out = (
            reach.groupBy("node")
            .agg(F.min("depth").alias("min_depth"))
            .orderBy("node")
            .localCheckpoint(eager=True)
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@query(
    "sketch_bitmap",
    oracle="""
WITH per_flag AS (
  SELECT l_returnflag, list_sort(list(DISTINCT l_suppkey)) AS bm
  FROM lineitem GROUP BY l_returnflag
)
SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
       len(a.bm) AS card_a,
       len(list_intersect(a.bm, b.bm)) AS and_count,
       len(list_distinct(list_concat(a.bm, b.bm))) AS or_count,
       len(list_filter(a.bm, x -> NOT list_contains(b.bm, x)))
         + len(list_filter(b.bm, x -> NOT list_contains(a.bm, x))) AS xor_count,
       list_contains(a.bm, 3) AS has_3
FROM per_flag a JOIN per_flag b ON a.l_returnflag < b.l_returnflag
ORDER BY flag_a, flag_b
""",
)
def sketch_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP family: bitmap_agg per group, then and/or/xor/contains
    between group bitmaps (exact distinct-set semantics; array<bigint>
    representation — see functions/sketches.py)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # Both self-join sides read this aggregate's one shuffle: AQE reuses
    # the exchange, and its runtime row count bounds the final sort.
    per_flag = li.groupBy("l_returnflag").agg(SK.bitmap_agg("l_suppkey").alias("bm"))
    a = per_flag.select(F.col("l_returnflag").alias("flag_a"), F.col("bm").alias("bm_a"))
    b = per_flag.select(F.col("l_returnflag").alias("flag_b"), F.col("bm").alias("bm_b"))
    pairs = a.join(b, F.col("flag_a") < F.col("flag_b"))
    return pairs.select(
        "flag_a",
        "flag_b",
        SK.bitmap_count("bm_a").alias("card_a"),
        SK.bitmap_count(SK.bitmap_and("bm_a", "bm_b")).alias("and_count"),
        SK.bitmap_count(SK.bitmap_or("bm_a", "bm_b")).alias("or_count"),
        SK.bitmap_count(SK.bitmap_xor("bm_a", "bm_b")).alias("xor_count"),
        SK.bitmap_contains("bm_a", 3).alias("has_3"),
    ).orderBy("flag_a", "flag_b")


@query(
    "sketch_bitmap_count",
    oracle="""
SELECT l_linestatus,
       count(DISTINCT l_suppkey) AS supp_ndv,
       count(DISTINCT l_partkey) AS part_ndv
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def sketch_bitmap_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitmap_union_count == exact COUNT(DISTINCT) — the Doris pattern of
    keeping pre-aggregated bitmap columns and counting their union."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_linestatus")
        .agg(
            SK.bitmap_union_count("l_suppkey").alias("supp_ndv"),
            SK.bitmap_union_count("l_partkey").alias("part_ndv"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "sketch_bitmap_roaring",
    oracle="""
SELECT l_linestatus,
       count(DISTINCT l_suppkey) AS supp_ndv,
       min(l_suppkey) AS min_supp,
       max(l_suppkey) AS max_supp
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def sketch_bitmap_roaring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitmap_union over the COMPRESSED Roaring tier
    (functions/roaring.py; Doris BitmapValue/Roaring64Map analog,
    be/src/util/bitmap_value.h). Two-level plan: mapInPandas partial
    bitmaps per input partition, one shuffle of compressed partials,
    grouped merge — task memory bounded by the compressed union size,
    not the raw distinct count (the array tier's collect_list would
    materialize every value per group)."""
    from doris_spark.functions import roaring as RB

    li = load_tables(spark, sf_dir)["lineitem"]
    bm = RB.bitmap_union_compressed(li, ["l_linestatus"], "l_suppkey")
    arr = RB.bitmap_to_array_col(F.col("bm"))
    return (
        bm.select(
            "l_linestatus",
            RB.bitmap_count_col(F.col("bm")).alias("supp_ndv"),
            F.array_min(arr).alias("min_supp"),
            F.array_max(arr).alias("max_supp"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "sketch_orthogonal_bitmap",
    oracle="""
SELECT l_linestatus,
       count(DISTINCT l_suppkey) AS union_count,
       len(list_intersect(
             list_intersect(
               list(DISTINCT l_suppkey) FILTER (WHERE l_returnflag = 'A'),
               list(DISTINCT l_suppkey) FILTER (WHERE l_returnflag = 'N')),
             list(DISTINCT l_suppkey) FILTER (WHERE l_returnflag = 'R')))
         AS intersect_count
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def sketch_orthogonal_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orthogonal_bitmap_union_count / _intersect_count over a stored
    bitmap table (the Doris UV pattern: pre-aggregated bitmaps keyed by a
    filter dimension, rolled up at query time). Base = per
    (l_linestatus, l_returnflag) supplier bitmaps; suppliers active under
    all three return flags per status."""
    li = load_tables(spark, sf_dir)["lineitem"]
    base = li.groupBy("l_linestatus", "l_returnflag").agg(
        SK.bitmap_agg("l_suppkey").alias("bm")
    )
    flags = ["A", "N", "R"]
    return (
        base.groupBy("l_linestatus")
        .agg(
            SK.orthogonal_bitmap_union_count("bm").alias("union_count"),
            SK.orthogonal_bitmap_intersect_count("bm", "l_returnflag", flags).alias(
                "intersect_count"
            ),
        )
        .orderBy("l_linestatus")
    )


@query(
    "agg_state_combinators",
    oracle="""
SELECT l_returnflag,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       count(l_extendedprice) AS cnt_price,
       CAST(min(l_discount) AS DOUBLE) AS min_disc,
       CAST(max(l_tax) AS DOUBLE) AS max_tax,
       CAST(sum(l_quantity) AS DOUBLE) / count(l_quantity) AS avg_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_state_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG_STATE combinators: _state at fine grain, _union regroup,
    _merge finalize (functions/combinators.py). Mirrors an AGG_KEYS
    table holding stored partial states that are rolled up at query
    time; states are struct columns with exact (decimal) partials, so
    the three-level rollup is bit-identical to a direct aggregate."""
    from doris_spark.functions import combinators as C

    li = load_tables(spark, sf_dir)["lineitem"]
    fine = li.groupBy("l_returnflag", "l_linestatus", "l_suppkey").agg(
        C.sum_state("l_quantity").alias("qty_st"),
        C.count_state("l_extendedprice").alias("price_ct"),
        C.min_state("l_discount").alias("disc_st"),
        C.max_state("l_tax").alias("tax_st"),
        C.avg_state("l_quantity").alias("qty_avg_st"),
    )
    mid = fine.groupBy("l_returnflag", "l_linestatus").agg(
        C.sum_union("qty_st").alias("qty_st"),
        C.count_union("price_ct").alias("price_ct"),
        C.min_union("disc_st").alias("disc_st"),
        C.max_union("tax_st").alias("tax_st"),
        C.avg_union("qty_avg_st").alias("qty_avg_st"),
    )
    return (
        mid.groupBy("l_returnflag")
        .agg(
            C.sum_merge("qty_st").cast("double").alias("sum_qty"),
            C.count_merge("price_ct").alias("cnt_price"),
            C.min_merge("disc_st").cast("double").alias("min_disc"),
            C.max_merge("tax_st").cast("double").alias("max_tax"),
            C.avg_merge("qty_avg_st").alias("avg_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "sketch_hll",
    oracle="""
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS exact_ndv,
       CASE WHEN abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
                 <= greatest(0.05 * count(DISTINCT o_custkey), 5) THEN 1 ELSE 0 END
         AS ndv_within_5pct
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketches (DataSketches-backed): two-level union-merge — partial
    sketches per (status, custkey-group) merged per status, exactly the
    Doris hll_union rollup pattern. The estimate is checked as
    within-5%-of-exact (each engine evaluates its own sketch; estimates
    themselves differ).

    ONE scan (r12): the first level groups by (status, custkey), which
    simultaneously (a) deduplicates custkeys so the rollup's count(*) IS
    the exact NDV — no second scan + countDistinct Expand + join back —
    and (b) still exercises partial-sketch union: hll_union of
    per-custkey partials is register-max, identical to a direct sketch
    (duplicate-insensitive), so `est` is bit-for-bit the old value."""
    o = load_tables(spark, sf_dir)["orders"]
    partial = o.groupBy("o_orderstatus", "o_custkey").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
    )
    return (
        partial.groupBy("o_orderstatus")
        .agg(
            SK.hll_cardinality(SK.hll_union_agg("sk")).alias("est"),
            F.count(F.lit(1)).alias("exact_ndv"),
        )
        .select(
            "o_orderstatus",
            "exact_ndv",
            F.when(
                F.abs(F.col("est") - F.col("exact_ndv"))
                <= F.greatest(0.05 * F.col("exact_ndv"), F.lit(5.0)),
                1,
            )
            .otherwise(0)
            .alias("ndv_within_5pct"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "sketch_quantile",
    oracle="""
SELECT l_returnflag,
       CASE WHEN abs(approx_quantile(l_extendedprice, 0.5)
                     - quantile_cont(l_extendedprice, 0.5))
                 <= 0.05 * quantile_cont(l_extendedprice, 0.5) THEN 1 ELSE 0 END
         AS p50_within_5pct,
       quantile_disc(l_extendedprice, 0.5) AS p50_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE_STATE: percentile_approx sketch vs exact percentile, checked
    as within-5% (sketches differ between engines).

    Exact percentiles by SORT, not by ObjectHashAggregate buffering
    (r12): F.percentile / percentile_disc buffer EVERY group value into
    per-partition hash maps and merge the serialized maps across the
    shuffle — measured 1.65x slower here than ranking the sorted groups
    and picking the 1-3 rows at the median positions, and at 100 TB the
    buffered map per task is a §5 OOM, where sort spills gracefully.
    percentile_cont = lower + (upper-lower)*frac at pos 1+0.5(n-1);
    percentile_disc = the value at rank ceil(0.5 n). Values land on data
    rows, so p50_disc is bit-identical; __pe only feeds the within-5%
    flag. The approx sketch stays a (partial-merging) aggregate."""
    # No ensure_parallelism round-robin here (r12): since the approx
    # sketch merged into the window pass, all compute sits AFTER the
    # hash exchange, so the round-robin spread was a pure extra pass
    # over the data (A/B sf0.1: 2.09 -> 1.68 s, identical output). At
    # real scale the helper is a no-op anyway (scan is already split).
    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_returnflag", "l_extendedprice"
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    nw = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(nw).alias("n"),
    )
    pos = 1 + 0.5 * (F.col("n") - 1)
    lo = F.floor(pos).cast("int")
    hi = F.ceil(pos).cast("int")
    dpos = F.ceil(0.5 * F.col("n")).cast("int")
    # Single pass (r12, guide §2.4): the approx sketch rides the window's
    # flag partitioning instead of a SECOND lineitem scan + 2-stage agg +
    # join-back — groupBy(l_returnflag) over the ranked rows reuses the
    # window's exchange (same key), so the whole query is one scan and
    # one shuffle. The sketch sees the same value multiset (conditional
    # maxes pick the boundary ranks; the sketch aggregates every row).
    # Same-session A/B sf0.1: 2.63 -> 2.35 s, jobs 4 -> 3, output
    # bit-identical.
    merged = ranked.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("rn") == lo, F.col("l_extendedprice"))).alias("vlo"),
        F.max(F.when(F.col("rn") == hi, F.col("l_extendedprice"))).alias("vhi"),
        F.max(F.when(F.col("rn") == dpos, F.col("l_extendedprice"))).alias(
            "p50_disc"
        ),
        F.max(pos).alias("pos"),
        SK.quantile_percent("l_extendedprice", 0.5).alias("__pa"),
    )
    frac = F.col("pos") - F.floor(F.col("pos"))
    pe = F.col("vlo").cast("double") + (
        F.col("vhi").cast("double") - F.col("vlo").cast("double")
    ) * frac
    return (
        merged
        .select(
            "l_returnflag",
            F.when(F.abs(F.col("__pa") - pe) <= 0.05 * pe, 1)
            .otherwise(0)
            .alias("p50_within_5pct"),
            "p50_disc",
        )
        .orderBy("l_returnflag")
    )


@query(
    "sketch_bitmap_string",
    oracle="""
WITH per AS (
  SELECT l_returnflag, list_sort(list(DISTINCT l_suppkey % 40)) AS bm
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       array_to_string(bm, ',') AS bm_str,
       len(bm) AS card,
       array_to_string(bm[1:5], ',') AS first5,
       '1,3,5' AS parsed,
       bm[1] AS bm_min,
       bm[len(bm)] AS bm_max,
       coalesce(array_to_string(list_filter(bm, v -> v >= 10 AND v < 20), ','), '') AS in_range,
       coalesce(array_to_string(list_filter(bm, v -> v >= 30)[1:3], ','), '') AS lim3,
       coalesce(array_to_string(list_filter(bm, v -> v <> 7), ','), '') AS removed7,
       len(list_filter(bm, v -> v >= 10 AND v < 20)) AS in_range_cnt
FROM per ORDER BY l_returnflag
""",
)
def sketch_bitmap_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitmap_to_string / bitmap_from_string / sub_bitmap /
    bitmap_subset_in_range / bitmap_subset_limit / bitmap_remove /
    bitmap_min/max (function_bitmap.cpp string+subset surface) over
    per-flag supplier bitmaps; from_string round trip pinned on a literal
    with dups and out-of-order input."""
    li = load_tables(spark, sf_dir)["lineitem"]
    per = li.groupBy("l_returnflag").agg(
        SK.bitmap_agg(F.col("l_suppkey") % 40).alias("bm")
    )
    return per.select(
        "l_returnflag",
        SK.bitmap_to_string("bm").alias("bm_str"),
        SK.bitmap_count("bm").alias("card"),
        SK.bitmap_to_string(SK.sub_bitmap("bm", 0, 5)).alias("first5"),
        SK.bitmap_to_string(SK.bitmap_from_string(F.lit("5,1,3,5"))).alias("parsed"),
        SK.bitmap_min("bm").alias("bm_min"),
        SK.bitmap_max("bm").alias("bm_max"),
        SK.bitmap_to_string(SK.bitmap_subset_in_range("bm", 10, 20)).alias("in_range"),
        SK.bitmap_to_string(SK.bitmap_subset_limit("bm", 30, 3)).alias("lim3"),
        SK.bitmap_to_string(SK.bitmap_remove("bm", 7)).alias("removed7"),
        F.size(SK.bitmap_subset_in_range("bm", 10, 20)).alias("in_range_cnt"),
    ).orderBy("l_returnflag")


@query(
    "mtmv_refresh",
    oracle="""
SELECT year(o_orderdate) AS yr, o_orderstatus,
       count(*) AS cnt, sum(o_totalprice) AS total
FROM orders GROUP BY 1, 2 ORDER BY yr, o_orderstatus
""",
)
def mtmv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTMV end-to-end through the driver gate (streaming/mtmv.py;
    fe/.../mtmv/MTMVPartitionUtil.java analog): materialize orders rolled
    up by (year, status) partitioned by year, then refresh AGAIN against
    the unchanged base and assert the snapshot reports zero stale
    partitions — the partition-incremental contract. Returns the MV
    content, which must equal the direct aggregate."""
    import os as _os
    import shutil
    import tempfile

    from doris_spark.streaming.mtmv import MaterializedView

    orders = load_tables(spark, sf_dir)["orders"]
    base = orders.withColumn("yr", F.year("o_orderdate"))
    storage = _os.path.join(
        tempfile.gettempdir(), f"doris_spark_mtmv_{stable_key(sf_dir)}"
    )
    shutil.rmtree(storage, ignore_errors=True)
    mv = MaterializedView(
        spark,
        "orders_by_year",
        storage,
        lambda b: b.groupBy("yr", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("o_totalprice").alias("total")
        ),
        "yr",
    )
    mv.refresh(base)
    second = mv.refresh(base)
    assert second["refreshed"] == [], "unchanged base must refresh nothing"
    return (
        mv.read()
        .select(F.col("yr").cast("int").alias("yr"), "o_orderstatus", "cnt", "total")
        .orderBy("yr", "o_orderstatus")
    )


@query(
    "mv_transparent_rewrite",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
       max(o_totalprice) AS mx
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def mv_transparent_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSPARENT MV rewrite (plans/mv_rewrite.py; Nereids
    MaterializedViewProjectAggregateRule.java analog): the query below
    is issued against the BASE `orders` table; Engine.sql redirects it
    onto a registered (priority, status) rollup MV — asserted via
    last_mv_rewrite — and re-aggregates the partials (rollup
    containment: group-by is a subset of MV dims, filter on a dim,
    count->sum, sum->sum, max->max). At 100 TB the scan reads the
    few-thousand-row MV, not the fact table."""
    import os as _os
    import shutil
    import tempfile

    from doris_spark.engine import Engine
    from doris_spark.session import register_views
    from doris_spark.streaming.mtmv import MaterializedView

    register_views(spark, sf_dir)
    eng = Engine(spark)
    orders = load_tables(spark, sf_dir)["orders"]
    storage = _os.path.join(
        tempfile.gettempdir(), f"doris_spark_mvrw_{stable_key(sf_dir)}"
    )
    shutil.rmtree(storage, ignore_errors=True)
    mv = MaterializedView(
        spark,
        "orders_prio_rollup",
        storage,
        lambda b: b.groupBy("o_orderpriority", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("cnt"),
            # DECIMAL partial: exact, order-independent addition, so the
            # rewrite's re-aggregation is bit-identical to a direct scan
            # (sum of doubles drifts with partial-sum order at scale).
            F.sum(F.col("o_totalprice").cast("decimal(38,4)")).alias("sum_price"),
            F.max("o_totalprice").alias("max_price"),
        ),
        "o_orderpriority",
    )
    mv.refresh(orders)
    eng.register_mv(
        "orders_prio_rollup",
        "orders",
        dims=["o_orderpriority", "o_orderstatus"],
        measures={
            "cnt": "count(*)",
            "sum_price": "sum(CAST(o_totalprice AS DECIMAL(38,4)))",
            "max_price": "max(o_totalprice)",
        },
        view=mv.read(),
    )
    # The partial sums stay exact DECIMAL(38,4) (order-independent
    # addition); only the FINAL total is cast to DOUBLE so both engines
    # emit the same float value to the comparator.
    out = eng.sql(
        "SELECT o_orderstatus, count(*) AS n, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total, "
        "max(o_totalprice) AS mx "
        "FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    assert eng.last_mv_rewrite == "orders_prio_rollup", "MV rewrite must fire"
    return out


@query(
    "meta_scan_partitions",
    oracle="""
SELECT o_orderpriority, count(*) AS n_rows
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def meta_scan_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MetaScan (sources/metascan.py; be/src/exec/operator/
    meta_scan_operator.h + SHOW PARTITIONS analog): write orders
    partitioned by priority, then read the table's PARTITION METADATA —
    per-partition row counts via the hidden `_metadata` file struct.
    The row counts must equal the base aggregate (the oracle); file
    counts are layout-dependent and asserted >=1 rather than compared."""
    import os as _os
    import tempfile

    from doris_spark.sources.metascan import table_partitions

    orders = load_tables(spark, sf_dir)["orders"]
    path = _os.path.join(
        tempfile.gettempdir(), f"doris_spark_meta_{stable_key(sf_dir)}.parquet"
    )
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    parts = table_partitions(spark, path, ["o_orderpriority"])
    assert parts.filter(F.col("n_files") < 1).count() == 0
    return parts.select("o_orderpriority", "n_rows").orderBy("o_orderpriority")


@query(
    "mv_join_rewrite",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n,
       sum(o_totalprice) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND c_mktsegment <> 'MACHINERY'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def mv_join_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-aware + filter-compensated TRANSPARENT MV rewrite
    (plans/mv_rewrite.py round-5 extension; Nereids
    MaterializedViewProjectJoinRule.java / predicate-compensation
    analog): the query is issued against the BASE join
    `orders JOIN customer` with the MV's own date filter repeated plus a
    dim residual; Engine.sql redirects onto the (segment, status) rollup
    MV built over the filtered join — asserted via last_mv_rewrite. The
    ON condition is written commuted (c_custkey = o_custkey) to prove
    equality-side canonicalization."""
    import os as _os
    import shutil
    import tempfile

    from doris_spark.engine import Engine
    from doris_spark.session import register_views
    from doris_spark.streaming.mtmv import MaterializedView

    register_views(spark, sf_dir)
    eng = Engine(spark)
    t = load_tables(spark, sf_dir)
    base = (
        t["orders"].filter(F.col("o_orderdate") >= "1997-01-01")
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    )
    storage = _os.path.join(
        tempfile.gettempdir(), f"doris_spark_mvjn_{stable_key(sf_dir)}"
    )
    shutil.rmtree(storage, ignore_errors=True)
    mv = MaterializedView(
        spark,
        "orders_cust_97_mv",
        storage,
        lambda b: b.groupBy("c_mktsegment", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_totalprice").alias("sum_price"),
        ),
        "c_mktsegment",
    )
    mv.refresh(base)
    eng.register_mv(
        "orders_cust_97_mv",
        "orders JOIN customer ON o_custkey = c_custkey",
        dims=["c_mktsegment", "o_orderstatus"],
        measures={"cnt": "count(*)", "sum_price": "sum(o_totalprice)"},
        view=mv.read(),
        where="o_orderdate >= TIMESTAMP '1997-01-01'",
    )
    out = eng.sql(
        "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS total "
        "FROM orders JOIN customer ON c_custkey = o_custkey "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND c_mktsegment <> 'MACHINERY' "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    )
    assert eng.last_mv_rewrite == "orders_cust_97_mv", "join-MV rewrite must fire"
    return out
