"""Generator/TVF functions, JSON family, histogram/topn/map aggregates,
VARIANT shim, geo subset — remaining SURVEY §2 inventory lines.

Reference analogs: table functions (fe/.../functions/table/, BE
be/src/exprs/table_function/), JSON (function_jsonb.cpp), histogram
(aggregate_function_histogram.h), topn (aggregate_function_topn.h),
map_agg (aggregate_function_map.h), VARIANT (data_type_variant.h),
geo (be/src/exprs/function/geo/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doris_spark.queries import query, sql_query
from doris_spark.session import load_tables, register_views


# ------------------------------------------------------------- generators

@query(
    "unnest_ordinality",
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
       unnest(toks) AS tok
FROM (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents WHERE doc_id < 8
) t
ORDER BY doc_id, pos
""",
)
def unnest_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doris `UNNEST(arr) WITH ORDINALITY AS t(pos, tok)` through the
    dialect tier (plans/unnest_rewrite.py — pos binds FIRST, 0-based;
    fe LogicalPlanBuilder.withUnnest / PosExplode.customSignature,
    pinned by nereids_function_p0/gen_function/unnest_from_list)."""
    from doris_spark.operators.textops import tokenize
    from doris_spark.plans.dialect import dialect as _dialect

    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.col("doc_id") < 8)
    # tokenize via the shared operator (the registry's Doris-semantics
    # split UDF shadows Spark's split in SQL text); the Doris SQL below
    # exercises only the UNNEST dialect path
    docs.select("doc_id", tokenize("text").alias("toks")
                ).createOrReplaceTempView("__unn_docs")
    doris_sql = """
        SELECT d.doc_id, t.pos, t.tok
        FROM __unn_docs d,
        UNNEST(d.toks) WITH ORDINALITY AS t(pos, tok)
        ORDER BY d.doc_id, t.pos
    """
    return spark.sql(_dialect(doris_sql)).select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")


@query(
    "unnest_zip",
    oracle="""
SELECT doc_id,
       unnest(a1) AS t1,
       unnest(a2) AS t2
FROM (
  SELECT doc_id,
         list_slice(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), 1, 5) AS a1,
         list_slice(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), 1, 3) AS a2
  FROM documents WHERE doc_id < 8
) t
ORDER BY doc_id, t1 NULLS FIRST, t2 NULLS FIRST
""",
)
def unnest_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doris multi-array `UNNEST(a1, a2) AS t(c1, c2)` zip padded to
    the longest (NULL-fill) through the dialect tier; DuckDB's
    multi-unnest zips identically."""
    from doris_spark.operators.textops import tokenize
    from doris_spark.plans.dialect import dialect as _dialect

    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.col("doc_id") < 8)
    toks = tokenize("text")
    docs.select(
        "doc_id",
        F.slice(toks, 1, 5).alias("a1"),
        F.slice(toks, 1, 3).alias("a2"),
    ).createOrReplaceTempView("__unn_zip_docs")
    doris_sql = """
        SELECT d.doc_id, t.c1 AS t1, t.c2 AS t2
        FROM __unn_zip_docs d,
        UNNEST(d.a1, d.a2) AS t(c1, c2)
        ORDER BY d.doc_id, t.c1 NULLS FIRST, t.c2 NULLS FIRST
    """
    return spark.sql(_dialect(doris_sql))


@query(
    "gen_explode",
    oracle="""
SELECT doc_id,
       unnest(toks) AS tok,
       CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
FROM (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents WHERE doc_id < 10
) t
ORDER BY doc_id, pos
""",
)
def gen_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode over tokenized text (Doris explode_split / lateral view)."""
    from doris_spark.operators.textops import tokenize

    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 10)
    return (
        docs.select("doc_id", F.posexplode(tokenize("text")).alias("pos", "tok"))
        .select("doc_id", "tok", F.col("pos").cast("bigint").alias("pos"))
        .orderBy("doc_id", "pos")
    )


@query(
    "gen_numbers_tvf",
    oracle="""
SELECT count(*) AS n, sum(range) AS total, sum(range * range) AS sq_total
FROM range(0, 100000)
""",
)
def gen_numbers_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numbers()/range TVF (Doris DataGen operator → spark.range)."""
    return spark.range(0, 100000).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("total"),
        F.sum(F.col("id") * F.col("id")).alias("sq_total"),
    )


sql_query(
    "gen_stack",
    """
SELECT n_name, kind, v FROM nation
LATERAL VIEW stack(2, 'key', CAST(n_nationkey AS BIGINT),
                      'region', CAST(n_regionkey AS BIGINT)) s AS kind, v
ORDER BY n_name, kind
""",
    oracle="""
SELECT n_name, 'key' AS kind, CAST(n_nationkey AS BIGINT) AS v FROM nation
UNION ALL
SELECT n_name, 'region' AS kind, CAST(n_regionkey AS BIGINT) AS v FROM nation
ORDER BY n_name, kind
""",
)


@query(
    "gen_tvf_family",
    oracle="""
WITH base AS (
  SELECT event_id, event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_id < 30
)
SELECT event_id, 'jarr_int' AS kind, 0::BIGINT AS pos, CAST(k AS VARCHAR) AS val FROM base
UNION ALL
SELECT event_id, 'jarr_int', 1, CAST(k * 2 AS VARCHAR) FROM base
UNION ALL
SELECT event_id, 'map', 0, 'k=' || CAST(k AS VARCHAR) FROM base
UNION ALL
SELECT event_id, 'bitmap', 0, CAST(k AS VARCHAR) FROM base
UNION ALL
SELECT event_id, 'bitmap', 1, CAST(k + 100 AS VARCHAR) FROM base
UNION ALL
SELECT event_id, 'outer',
       CASE WHEN event_type = 'error' THEN NULL ELSE 0 END,
       CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
FROM base
ORDER BY kind, event_id, pos NULLS FIRST
""",
)
def gen_tvf_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doris table-function family (be/src/exprs/table_function/):
    explode_json_array_int (posexplode of from_json array<bigint>),
    explode_map (posexplode of map_entries), explode_bitmap (posexplode of
    the array-backed bitmap), and explode-with-outer (posexplode_outer,
    emitting a NULL row for empty input). Unioned into one
    (event_id, kind, pos, val) relation; the oracle derives the expected
    rows arithmetically."""
    from doris_spark.functions import sketches as S

    ev = load_tables(spark, sf_dir)["events"].filter(F.col("event_id") < 30)
    base = ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        "props",
    )

    jarr_src = F.from_json(
        F.concat(
            F.lit("["),
            F.col("k").cast("string"),
            F.lit(","),
            (F.col("k") * 2).cast("string"),
            F.lit("]"),
        ),
        "array<bigint>",
    )
    jarr = base.select("event_id", F.posexplode(jarr_src).alias("pos", "v")).select(
        "event_id",
        F.lit("jarr_int").alias("kind"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("v").cast("string").alias("val"),
    )

    mp = base.select(
        "event_id",
        F.posexplode(F.map_entries(F.from_json("props", "map<string,string>"))).alias(
            "pos", "e"
        ),
    ).select(
        "event_id",
        F.lit("map").alias("kind"),
        F.col("pos").cast("bigint").alias("pos"),
        F.concat(F.col("e.key"), F.lit("="), F.col("e.value")).alias("val"),
    )

    bm = base.select(
        "event_id",
        F.posexplode(
            S.bitmap_from_array(F.array(F.col("k"), F.col("k") + 100))
        ).alias("pos", "v"),
    ).select(
        "event_id",
        F.lit("bitmap").alias("kind"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("v").cast("string").alias("val"),
    )

    outer_arr = F.when(
        F.col("event_type") == "error", F.array().cast("array<string>")
    ).otherwise(F.array(F.col("event_type")))
    outer = base.select(
        "event_id", F.posexplode_outer(outer_arr).alias("pos", "v")
    ).select(
        "event_id",
        F.lit("outer").alias("kind"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("v").alias("val"),
    )

    return (
        jarr.unionAll(mp)
        .unionAll(bm)
        .unionAll(outer)
        .orderBy("kind", "event_id", F.col("pos").asc_nulls_first())
    )


sql_query(
    "json_mutation",
    """
SELECT event_id,
       json_set(props, '$.b', '5')            AS set_new,
       json_insert(props, '$.k', '1')         AS insert_existing,
       json_replace(props, '$.k', '99')       AS replace_existing,
       json_remove(props, '$.k')              AS removed,
       json_replace(props, '$.missing', '1')  AS replace_missing,
       json_set(props, '$.t', concat('"', event_type, '"')) AS set_str
FROM events WHERE event_id < 40 ORDER BY event_id
""",
    oracle="""
SELECT event_id,
       '{"k":' || json_extract_string(props, '$.k') || ',"b":5}'  AS set_new,
       '{"k":' || json_extract_string(props, '$.k') || '}'        AS insert_existing,
       '{"k":99}'                                                 AS replace_existing,
       '{}'                                                       AS removed,
       '{"k":' || json_extract_string(props, '$.k') || '}'        AS replace_missing,
       '{"k":' || json_extract_string(props, '$.k') || ',"t":"' || event_type || '"}' AS set_str
FROM events WHERE event_id < 40 ORDER BY event_id
""",
)


@query(
    "agg_group_concat",
    oracle="""
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS prios,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
         FILTER (WHERE o_orderkey < 100) AS small_keys
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_concat with custom separator + ORDER BY (Doris group_concat,
    aggregate_function_group_concat; Spark 4 listagg WITHIN GROUP)."""
    text = """
        SELECT o_orderstatus,
               listagg(DISTINCT o_orderpriority, '|')
                 WITHIN GROUP (ORDER BY o_orderpriority) AS prios,
               listagg(CASE WHEN o_orderkey < 100
                            THEN CAST(o_orderkey AS STRING) END, ',')
                 WITHIN GROUP (ORDER BY o_orderkey) AS small_keys
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    register_views(spark, sf_dir, text)
    return spark.sql(text)


# ------------------------------------------------------------------- JSON

@query(
    "json_build_extract",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       '{"id":' || CAST(event_id AS VARCHAR) || ',"type":"' || event_type
            || '"}' AS built,
       json_array_length('[1,2,3]') AS alen,
       CAST(json_extract_string(props, '$.missing') IS NULL AS BOOLEAN) AS miss
FROM events
WHERE event_id < 50
ORDER BY event_id
""",
)
def json_build_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON build + extract (json_object/jsonb_extract analogs). The built
    object uses to_json(named_struct(...)) — byte-identical compact form."""
    ev = load_tables(spark, sf_dir)["events"].filter(F.col("event_id") < 50)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.to_json(
            F.struct(F.col("event_id").alias("id"), F.col("event_type").alias("type"))
        ).alias("built"),
        F.json_array_length(F.lit("[1,2,3]")).alias("alen"),
        F.get_json_object("props", "$.missing").isNull().alias("miss"),
    ).orderBy("event_id")


sql_query(
    "variant_shim",
    """
SELECT CAST(from_json(props, 'map<string,string>')['k'] AS BIGINT) AS k_val,
       count(*) AS cnt
FROM events
GROUP BY 1
HAVING count(*) > 5
ORDER BY k_val
""",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       count(*) AS cnt
FROM events
GROUP BY 1
HAVING count(*) > 5
ORDER BY k_val
""",
)


sql_query(
    "variant_native",
    """
SELECT event_id,
       variant_get(v, '$.k', 'bigint')          AS k_val,
       CAST(variant_get(v, '$.k') AS DOUBLE)    AS k_dbl,
       schema_of_variant(v)                     AS sch,
       to_json(v)                               AS rt,
       try_variant_get(v, '$.missing', 'string') AS miss
FROM (SELECT event_id, parse_json(props) AS v FROM events
      WHERE event_id < 40)
ORDER BY event_id
""",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_dbl,
       'OBJECT<k: BIGINT>' AS sch,
       '{"k":' || json_extract_string(props, '$.k') || '}' AS rt,
       CAST(NULL AS VARCHAR) AS miss
FROM events WHERE event_id < 40 ORDER BY event_id
""",
)


# ------------------------------------------------------------- aggregates

@query(
    "agg_extras",
    oracle="""
SELECT l_returnflag,
       sum(l_extendedprice * l_quantity) / sum(l_quantity) AS avg_weighted_price,
       stddev_samp(l_extendedprice) / sqrt(count(*))       AS sem_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg_weighted (aggregate_function_avg_weighted.h) and sem (standard
    error of mean) — composed from built-in partial-aggregatable pieces,
    so both stay one-shuffle at any scale."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity")
            ).alias("avg_weighted_price"),
            (F.stddev_samp("l_extendedprice") / F.sqrt(F.count(F.lit(1)))).alias(
                "sem_price"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_count_by_enum",
    oracle="""
WITH c AS (
  SELECT o_orderstatus, nullif(o_orderpriority, '1-URGENT') AS e, count(*) AS cnt
  FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus,
       coalesce(array_to_string(list_transform(list_sort(list(struct_pack(k := e, v := cnt))
                                FILTER (WHERE e IS NOT NULL)),
                      x -> x.k), ','), '') AS enum_keys,
       coalesce(array_to_string(list_transform(list_sort(list(struct_pack(k := e, v := cnt))
                                FILTER (WHERE e IS NOT NULL)),
                      x -> x.v), ','), '') AS enum_counts,
       sum(CASE WHEN e IS NULL THEN cnt ELSE 0 END) AS null_cnt
FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def agg_count_by_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_by_enum (aggregate_function_count_by_enum.h): per-group
    enum-value histogram plus NULL count (the nullable enum is derived
    with nullif so the null path is actually exercised). Emitted as
    parallel sorted arrays — the JSON rendering is a to_json away."""
    o = load_tables(spark, sf_dir)["orders"]
    inner = o.select(
        "o_orderstatus",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("e"),
    ).groupBy("o_orderstatus", "e").agg(F.count(F.lit(1)).alias("cnt"))
    # collect_list skips NULL elements, so wrapping in when() filters the
    # NULL-enum group out of the entry array.
    entries = F.array_sort(
        F.collect_list(
            F.when(
                F.col("e").isNotNull(),
                F.struct(F.col("e").alias("k"), F.col("cnt").alias("v")),
            )
        )
    )
    return (
        inner.groupBy("o_orderstatus")
        .agg(
            # Serialized for the driver canonicalizer (can't sort raw arrays).
            F.array_join(
                F.transform(entries, lambda x: x.getField("k")), ","
            ).alias("enum_keys"),
            F.array_join(
                F.transform(entries, lambda x: x.getField("v").cast("string")), ","
            ).alias("enum_counts"),
            F.sum(F.when(F.col("e").isNull(), F.col("cnt")).otherwise(0)).alias(
                "null_cnt"
            ),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_array_intersect",
    oracle="""
WITH sets AS (
  SELECT DISTINCT l_returnflag AS flag, l_linestatus AS st, l_suppkey % 50 AS v
  FROM lineitem
), m AS (
  SELECT flag, count(DISTINCT st) AS n_members FROM sets GROUP BY flag
), cnt AS (
  SELECT flag, v, count(DISTINCT st) AS c FROM sets GROUP BY flag, v
)
SELECT cnt.flag AS l_returnflag,
       coalesce(array_to_string(list_sort(list(cnt.v)), ','), '') AS common_vals
FROM cnt JOIN m ON cnt.flag = m.flag
WHERE cnt.c = m.n_members
GROUP BY cnt.flag ORDER BY l_returnflag
""",
)
def agg_array_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_array_intersect (aggregate_function_group_array_intersect.h):
    values present in EVERY member set of the group. Implemented by
    explode + membership counting (one shuffle, no quadratic
    array-intersect chain — the formulation that survives wide groups at
    scale).

    ONE aggregation pass (r12): collect_set(st) per (flag, v) computes
    the membership count directly off the raw rows (collect_set ==
    distinct-then-count), and the per-flag member total n_members is the
    distinct union of those tiny sets via a window over the <=150
    aggregated rows — the old shape consumed a 3-column distinct
    subtree TWICE (flag-level + (flag,v)-level countDistincts, each an
    Expand + extra shuffle) and joined them back."""
    li = load_tables(spark, sf_dir)["lineitem"]
    cnt = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_linestatus").alias("st"),
            (F.col("l_suppkey") % 50).alias("v"),
        )
        .groupBy("flag", "v")
        .agg(F.collect_set("st").alias("sts"))
    )
    w = Window.partitionBy("flag")
    return (
        cnt.withColumn(
            "n_members",
            F.size(F.array_distinct(F.flatten(F.collect_list("sts").over(w)))),
        )
        .filter(F.size("sts") == F.col("n_members"))
        .groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            # Numeric sort first, THEN stringify — string sort would put
            # "10" before "2" and diverge from the oracle's list_sort.
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("v")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("common_vals")
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_ema",
    oracle="""
WITH arr AS (
  SELECT user_id,
         list_transform(list_sort(list(struct_pack(ts := ts, value := value))),
                        e -> e.value) AS vals
  FROM events WHERE user_id < 20 GROUP BY user_id
)
SELECT user_id,
       len(vals) AS n,
       list_reduce(vals, (acc, x) -> 0.5 * x + 0.5 * acc) AS ema
FROM arr ORDER BY user_id
""",
)
def agg_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exponential_moving_average (aggregate_function_ema.h), alpha=0.5,
    seeded with the first event: inherently sequential per group, so the
    fold runs over the time-sorted collected array (array size = events
    per user — bounded; the groupBy shuffle is the only wide op)."""
    ev = load_tables(spark, sf_dir)["events"].filter(F.col("user_id") < 20)
    arr = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "value"))),
            lambda e: e.getField("value"),
        ).alias("vals")
    )
    return arr.select(
        "user_id",
        F.size("vals").alias("n"),
        F.expr(
            "aggregate(slice(vals, 2, size(vals) - 1), "
            "CAST(element_at(vals, 1) AS DOUBLE), "
            "(acc, x) -> 0.5 * x + 0.5 * acc)"
        ).alias("ema"),
    ).orderBy("user_id")

@query(
    "agg_histogram",
    oracle="""
SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / (600000.0 / 12)) AS INT) + 1, 0), 13)
         AS bucket,
       count(*) AS cnt,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1
ORDER BY bucket
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram/linear_histogram via width_bucket (equi-width buckets)."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(12)).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "agg_topn",
    oracle="""
SELECT n_name, c_mktsegment, cnt, rnk FROM (
  SELECT n_name, c_mktsegment, count(*) AS cnt,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY count(*) DESC, c_mktsegment) AS rnk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_mktsegment
) x
WHERE rnk <= 3
ORDER BY n_name, rnk
""",
)
def agg_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn(col, k) aggregate (map-of-counts) as count + partition top-k —
    the distributed-safe formulation (partial counts shuffle, then
    window top-k; no per-group hashmap state)."""
    t = load_tables(spark, sf_dir)
    counts = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("cnt"), F.asc("c_mktsegment"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_mktsegment", "cnt", "rnk")
        .orderBy("n_name", "rnk")
    )


@query(
    "agg_map",
    oracle="""
WITH inner_c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
  FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus,
       array_to_string(list_transform(list_sort(list(struct_pack(k := o_orderpriority, v := cnt))),
                      e -> e.k), ',') AS prio_keys,
       array_to_string(list_transform(list_sort(list(struct_pack(k := o_orderpriority, v := cnt))),
                      e -> e.v), ',') AS prio_vals
FROM inner_c
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_agg: per-status map priority → count. Emitted as the sorted
    entry array (map_from_entries of it is the Doris MAP value; clients
    canonicalize MAP differently, arrays compare cleanly)."""
    o = load_tables(spark, sf_dir)["orders"]
    inner = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    entries = F.array_sort(
        F.collect_list(F.struct(F.col("o_orderpriority"), F.col("cnt")))
    )
    return (
        inner.groupBy("o_orderstatus")
        .agg(
            # Serialized for the driver canonicalizer (can't sort raw arrays).
            F.array_join(
                F.transform(entries, lambda e: e.getField("o_orderpriority")), ","
            ).alias("prio_keys"),
            F.array_join(
                F.transform(entries, lambda e: e.getField("cnt").cast("string")), ","
            ).alias("prio_vals"),
        )
        .orderBy("o_orderstatus")
    )


# ------------------------------------------------------------------- geo

sql_query(
    "geo_fns",
    """
WITH pts AS (
  SELECT c_custkey,
         st_point(CAST((c_custkey % 360) - 180.0 AS DOUBLE),
                  CAST((c_custkey % 180) - 90.0 AS DOUBLE)) AS p
  FROM customer WHERE c_custkey < 100
)
SELECT c_custkey,
       st_astext(p) AS wkt,
       st_x(p) AS x, st_y(p) AS y,
       st_distance_sphere(st_x(p), st_y(p), 0.0d, 0.0d) AS dist_to_origin
FROM pts
ORDER BY c_custkey
""",
    oracle="""
WITH pts AS (
  SELECT c_custkey,
         CAST((c_custkey % 360) - 180.0 AS DOUBLE) AS lon,
         CAST((c_custkey % 180) - 90.0 AS DOUBLE)  AS lat
  FROM customer WHERE c_custkey < 100
)
SELECT c_custkey,
       'POINT (' || CAST(CAST(lon AS INTEGER) AS VARCHAR) || ' ' || CAST(CAST(lat AS INTEGER) AS VARCHAR) || ')' AS wkt,
       lon AS x, lat AS y,
       2 * 6371000.0 * asin(sqrt(
         pow(sin(radians(0.0 - lat) / 2), 2) +
         cos(radians(lat)) * cos(radians(0.0)) * pow(sin(radians(0.0 - lon) / 2), 2)
       )) AS dist_to_origin
FROM pts
ORDER BY c_custkey
""",
)


@query(
    "scalar_array_fns",
    oracle="""
WITH t AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       len(toks)                                    AS sz,
       toks[1]                                      AS first_tok,
       toks[len(toks)]                              AS last_tok,
       list_sort(list_distinct(toks))[1]            AS min_tok,
       list_contains(toks, 'spark')                 AS has_spark,
       coalesce(list_position(toks, 'spark'), 0)    AS spark_pos,
       array_to_string(list_sort(list_distinct(toks)), ',')               AS sorted_distinct,
       array_to_string(list_reverse(list_sort(list_distinct(toks))), ',') AS rev_sorted,
       array_to_string(toks[1:3], ',')              AS first3,
       len(list_filter(toks, x -> length(x) > 4))   AS n_long,
       array_to_string(list_transform(toks[1:3], x -> upper(x)), ',')     AS up3,
       array_to_string(toks[1:3], '-')              AS joined3,
       len(list_intersect(toks, ['spark', 'join', 'query'])) AS n_kw,
       len(list_distinct(list_concat(toks, ['zzz']))) AS sz_with_sentinel
FROM t ORDER BY doc_id
""",
)
def scalar_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function tier matrix (SURVEY §2.8 array family, 50 impl files
    in be/src/exprs/function/array/) — size/element_at/min/contains/
    position/sort/reverse/slice/filter/transform/join/intersect/union."""
    from doris_spark.operators.textops import tokenize

    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 50)
    toks = tokenize("text")
    kw = F.array(F.lit("spark"), F.lit("join"), F.lit("query"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("sz"),
        toks[0].alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.array_min(F.array_distinct(toks)).alias("min_tok"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.coalesce(F.array_position(toks, "spark"), F.lit(0)).alias("spark_pos"),
        # Array results serialized for the driver canonicalizer.
        F.array_join(F.array_sort(F.array_distinct(toks)), ",").alias("sorted_distinct"),
        F.array_join(F.reverse(F.array_sort(F.array_distinct(toks))), ",").alias("rev_sorted"),
        F.array_join(F.slice(toks, 1, 3), ",").alias("first3"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).alias("n_long"),
        F.array_join(F.transform(F.slice(toks, 1, 3), lambda x: F.upper(x)), ",").alias("up3"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("joined3"),
        F.size(F.array_intersect(toks, kw)).alias("n_kw"),
        F.size(F.array_distinct(F.concat(toks, F.array(F.lit("zzz"))))).alias("sz_with_sentinel"),
    ).orderBy("doc_id")


# ------------------------------------------------------------- multimodal

@query(
    "mm_decode",
    oracle="""
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(64 + doc_id % 192 AS INT)        AS width,
       CAST(64 + (doc_id * 7) % 192 AS INT)  AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS INT) AS channels,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_digest
FROM documents WHERE doc_id < 300 ORDER BY media_id
""",
)
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline end-to-end: build media payloads
    from the corpus (mapInPandas), decode them back (mapInPandas, Arrow
    batches, fake codec per environment contract). Every decoded field —
    dimensions, byte count, content digest — is value-checked by the
    oracle recomputing the container arithmetic, so the whole
    python-worker round trip is verified, not just row counts."""
    from doris_spark.operators.multimodal import decode_media, media_from_text

    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 300)
    return decode_media(media_from_text(docs)).orderBy("media_id")


# ------------------------------------------------------------ schema scan

@query(
    "schema_scan",
    oracle="""
SELECT 'table' AS kind,
       unnest(['region','nation','customer','supplier','part','orders',
               'lineitem','events','documents','embeddings']) AS name,
       'true' AS info
UNION ALL
SELECT 'column',
       unnest(['event_id','ts','user_id','event_type','value','props']),
       unnest(['bigint','timestamp','bigint','string','double','string'])
ORDER BY kind, name
""",
)
def schema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SchemaScan (be/src/exec/operator/schema_scan_operator.h,
    information_schema.*): catalog tables + one table's column schema
    rendered as a queryable DataFrame. Doubles as the type-mapping check
    for the events table (TIMESTAMP(NANOS) parquet surfaces as Spark
    timestamp — SURVEY §1.3)."""
    from doris_spark.session import TABLES

    register_views(spark, sf_dir)
    tabs = (
        spark.sql("SHOW TABLES")
        .filter(F.col("tableName").isin(list(TABLES)))
        .select(
            F.lit("table").alias("kind"),
            F.col("tableName").alias("name"),
            F.col("isTemporary").cast("string").alias("info"),
        )
    )
    cols = spark.sql("DESCRIBE TABLE events").select(
        F.lit("column").alias("kind"),
        F.col("col_name").alias("name"),
        F.col("data_type").alias("info"),
    )
    return tabs.unionByName(cols).orderBy("kind", "name")


# ---------------------------------------------------------------- sampling

@query(
    "tablesample_det",
    oracle="""
WITH s AS (
  SELECT * FROM orders
  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '1999'
)
SELECT count(*) AS n,
       round(sum(o_totalprice), 2) AS total,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM s
""",
)
def tablesample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE re-expressed as a deterministic hash sample (~10%,
    operators/sampling.py): reproducible across engines and reruns, no
    shuffle — the auditable form of Doris's stats-collection sampling.
    0x1999/0x10000 = 9.99%."""
    from doris_spark.operators.sampling import deterministic_sample

    o = load_tables(spark, sf_dir)["orders"]
    s = deterministic_sample(o, "o_orderkey", 0.1)
    return s.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# -------------------------------------------------------------- AI family

def _hex32_sql(s: str, start: int) -> str:
    """DuckDB: unsigned 32-bit int from 8 hex chars of `s` (1-based
    start). Fits signed-64 comfortably."""
    return (
        f"CAST(list_sum(list_transform(range(8), i -> "
        f"(strpos('0123456789abcdef', substr({s}, {start} + i, 1)) - 1)::BIGINT"
        f" << (4 * (7 - i)))) AS BIGINT)"
    )


_AI_TOKS = (
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
)

_AI_ORACLE = f"""
WITH h AS (
  SELECT doc_id, text,
         md5('cls' || text) AS ch
  FROM documents WHERE doc_id < 100
), m AS (
  SELECT doc_id, text,
         {_hex32_sql('ch', 1)} AS hi,
         {_hex32_sql('ch', 9)} AS lo
  FROM h
)
SELECT doc_id,
       ['tech','news','story','misc'][CAST(lo % 4 AS INT) + 1]            AS cls,
       ['positive','neutral','negative'][CAST((hi % 3 + lo % 3) % 3 AS INT) + 1] AS sent,
       '[gen:' || substr(md5(text), 1, 12) || ']'                          AS gen,
       CASE WHEN len(list_distinct(list_concat({_AI_TOKS}, ['spark','join','query']))) = 0
            THEN 0.0
            ELSE CAST(len(list_intersect(list_distinct({_AI_TOKS}),
                                         ['spark','join','query'])) AS DOUBLE)
                 / len(list_distinct(list_concat({_AI_TOKS}, ['spark','join','query'])))
       END AS sim
FROM m ORDER BY doc_id
"""


@query("ai_fns", oracle=_AI_ORACLE)
def ai_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AI scalar family (be/src/exprs/function/ai/): classify, sentiment,
    generate, similarity as Arrow-batched pandas UDFs over the pluggable
    adapter. The deterministic fake adapter is md5-seeded, so the oracle
    recomputes the exact outputs (u64 % n done in 32-bit halves — DuckDB
    bigint is signed): full value verification of the UDF batch path."""
    from doris_spark.functions import ai as AI

    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        AI.ai_classify(F.col("text"), ["tech", "news", "story", "misc"]).alias("cls"),
        AI.ai_sentiment(F.col("text")).alias("sent"),
        AI.ai_generate(F.col("text")).alias("gen"),
        AI.ai_similarity(F.col("text"), F.lit("spark join query")).alias("sim"),
    ).orderBy("doc_id")


@query(
    "ai_agg_groups",
    oracle="""
WITH g AS (
  SELECT lang, string_agg(text, chr(10) ORDER BY text) AS joined
  FROM documents WHERE doc_id < 100 GROUP BY lang
)
SELECT lang,
       '[gen:' || substr(md5('summarize:' || joined), 1, 12) || ']' AS ai_agg
FROM g ORDER BY lang
""",
)
def ai_agg_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ai_agg (aggregate_function_ai_agg.h): one generate call per lang
    group over the sorted concatenated member texts — |groups| model
    calls after a collect_list shuffle, verified byte-for-byte against
    the oracle's recomputation."""
    from doris_spark.functions.ai import ai_agg

    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 100)
    return ai_agg(docs, ["lang"], "text").orderBy("lang")


# -------------------------------------------------------------- decimal

@query(
    "decimal_semantics",
    oracle="""
WITH d AS (
  SELECT CAST(round(l_extendedprice, 2) AS DECIMAL(12,2)) AS p,
         CAST(round(l_quantity, 2)      AS DECIMAL(12,2)) AS q
  FROM lineitem WHERE l_orderkey < 500
)
SELECT CAST(sum(p) AS DECIMAL(20,2))            AS sum_p,
       avg(CAST(p AS DOUBLE))                   AS avg_p,
       CAST(sum(p * q) AS DECIMAL(24,4))        AS sum_pq,
       CAST(min(p) AS DECIMAL(12,2))            AS min_p,
       CAST(round(max(p), 1) AS DECIMAL(12,1))  AS max_p_r1,
       CAST(CAST(sum(p) AS DOUBLE) / CAST(sum(q) AS DOUBLE) AS DOUBLE) AS ratio,
       CAST(sum(p) % 7 AS DECIMAL(12,2))        AS mod_p
FROM d
""",
)
def decimal_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMALV3 money math (SURVEY §7.3 tier-1 risk): exact decimal sums
    and products at pinned precision/scale, HALF_UP rounding, modulo on
    decimals. Every output type is pinned by explicit CAST on BOTH sides
    because the engines' implicit result-type rules differ (DuckDB decimal
    division yields DOUBLE; Spark yields a rescaled decimal)."""
    text = """
        WITH d AS (
          SELECT CAST(round(l_extendedprice, 2) AS DECIMAL(12,2)) AS p,
                 CAST(round(l_quantity, 2)      AS DECIMAL(12,2)) AS q
          FROM lineitem WHERE l_orderkey < 500
        )
        SELECT CAST(sum(p) AS DECIMAL(20,2))            AS sum_p,
               avg(CAST(p AS DOUBLE))                   AS avg_p,
               CAST(sum(p * q) AS DECIMAL(24,4))        AS sum_pq,
               CAST(min(p) AS DECIMAL(12,2))            AS min_p,
               CAST(round(max(p), 1) AS DECIMAL(12,1))  AS max_p_r1,
               CAST(CAST(sum(p) AS DOUBLE) / CAST(sum(q) AS DOUBLE) AS DOUBLE) AS ratio,
               CAST(sum(p) % 7 AS DECIMAL(12,2))        AS mod_p
        FROM d
        """
    register_views(spark, sf_dir, text)
    return spark.sql(text)


sql_query(
    "agg_topn_weighted",
    """
SELECT o_orderstatus, o_orderpriority, w, rnk FROM (
  SELECT o_orderstatus, o_orderpriority,
         round(sum(o_totalprice), 2) AS w,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY sum(o_totalprice) DESC, o_orderpriority) AS rnk
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority
) x
WHERE rnk <= 2
ORDER BY o_orderstatus, rnk
""",
)


sql_query(
    "geo_predicates",
    """
SELECT c_custkey,
       st_contains('POLYGON ((10 10, 70 10, 70 70, 10 70, 10 10))',
                   concat('POINT (', CAST(c_custkey % 100 AS STRING), ' ',
                          CAST((c_custkey * 7) % 100 AS STRING), ')')) AS inside,
       round(st_distance('POINT (0 0)',
                         concat('POINT (', CAST(c_custkey % 100 AS STRING), ' ',
                                CAST((c_custkey * 7) % 100 AS STRING), ')')), 6) AS dist0,
       round(st_azimuth('POINT (0 0)',
                        concat('POINT (', CAST(c_custkey % 100 AS STRING), ' ',
                               CAST((c_custkey * 7) % 100 AS STRING), ')')), 6) AS az,
       st_geometrytype('POLYGON ((10 10, 70 10, 70 70, 10 70, 10 10))') AS gtype,
       st_numpoints('POLYGON ((10 10, 70 10, 70 70, 10 70, 10 10))') AS np
FROM customer
WHERE c_custkey <= 400
ORDER BY c_custkey
""",
    oracle="""
SELECT c_custkey,
       (c_custkey % 100) > 10 AND (c_custkey % 100) < 70
       AND ((c_custkey * 7) % 100) > 10 AND ((c_custkey * 7) % 100) < 70
           AS inside,
       round(2 * 6371010.0 * asin(sqrt(
             pow(sin(radians(CAST((c_custkey * 7) % 100 AS DOUBLE)) / 2), 2)
             + cos(radians(CAST((c_custkey * 7) % 100 AS DOUBLE)))
               * pow(sin(radians(CAST(c_custkey % 100 AS DOUBLE)) / 2), 2))), 6)
           AS dist0,
       CASE WHEN (c_custkey % 100) = 0 AND ((c_custkey * 7) % 100) = 0 THEN NULL
            WHEN (c_custkey % 100) > 90 THEN NULL
            ELSE round(mod(pi() / 2
                 - atan2(sin(radians(CAST((c_custkey * 7) % 100 AS DOUBLE)))
                         * cos(radians(CAST(c_custkey % 100 AS DOUBLE))),
                         sin(radians(CAST(c_custkey % 100 AS DOUBLE))))
                 + 2 * pi(), 2 * pi()), 6) END
           AS az,
       'ST_POLYGON' AS gtype,
       5 AS np
FROM customer
WHERE c_custkey <= 400
ORDER BY c_custkey
""",
)


@query(
    "mm_codec_real",
    oracle="""
WITH ids AS (SELECT range AS id FROM range(40)),
img AS (
  SELECT id,
         8 + id % 8 AS width,
         8 + (id * 3) % 8 AS height,
         round(avg(CASE WHEN i % 3 = 0 THEN (id * 7 + i) % 256 END), 3) AS mean_r,
         round(avg(CASE WHEN i % 3 = 1 THEN (id * 7 + i) % 256 END), 3) AS mean_g
  FROM ids, (SELECT range AS i FROM range(1024)) t
  WHERE i < (8 + id % 8) * (8 + (id * 3) % 8) * 3
  GROUP BY id
),
aud AS (
  SELECT id,
         512 + (id % 16) * 32 AS n_frames,
         round(sqrt(avg(pow((CAST((id * 31 + i * 7) % 256 AS DOUBLE) - 128) / 128, 2))), 3) AS rms
  FROM ids, (SELECT range AS i FROM range(1024)) t
  WHERE i < 512 + (id % 16) * 32
  GROUP BY id
)
SELECT img.id AS media_id, img.width, img.height, img.mean_r, img.mean_g,
       aud.n_frames, aud.rms
FROM img JOIN aud ON img.id = aud.id
ORDER BY media_id
""",
)
def mm_codec_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal codecs end-to-end: formulaic pixels/samples are
    packed into genuine P6 PPM and RIFF/WAV containers in one
    mapInPandas pass, decoded back by the pure-python kernels
    (operators/multimodal.decode_images_ppm / decode_audio_wav), and the
    DuckDB oracle recomputes the same statistics numerically — the
    decode path is verified value-for-value against closed-form math."""
    from collections.abc import Iterator as _It

    import pandas as pd

    from doris_spark.operators import multimodal as MM

    # 40 rows: a handful of partitions keeps the Python-worker fan-out
    # proportional to the data (32 one-row pandas tasks × 3 stages was
    # pure startup overhead); at real scale numPartitions tracks input.
    ids = spark.range(0, 40, 1, 4).withColumnRenamed("id", "media_id")

    def build(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            imgs, wavs = [], []
            for mid in pdf["media_id"]:
                w, h = 8 + mid % 8, 8 + (mid * 3) % 8
                rgb = bytes((mid * 7 + i) % 256 for i in range(w * h * 3))
                imgs.append(MM.encode_ppm(int(w), int(h), rgb))
                n = 512 + (mid % 16) * 32
                samples = bytes((mid * 31 + i * 7) % 256 for i in range(n))
                wavs.append(MM.encode_wav(8000, samples))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ppm": imgs, "wav": wavs}
            )

    media = ids.mapInPandas(
        build, "media_id long, ppm binary, wav binary"
    ).persist()  # consumed by both decode branches; bench clears cache after

    img = MM.decode_images_ppm(media.select("media_id", F.col("ppm").alias("payload")))
    aud = MM.decode_audio_wav(media.select("media_id", F.col("wav").alias("payload")))
    return (
        img.join(aud, "media_id")
        .select(
            "media_id",
            "width",
            "height",
            F.round(F.col("mean_r").cast("double"), 3).alias("mean_r"),
            F.round(F.col("mean_g").cast("double"), 3).alias("mean_g"),
            "n_frames",
            F.round(F.col("rms").cast("double"), 3).alias("rms"),
        )
        .orderBy("media_id")
    )


# ------------------------------------------------------------------ DML

@query(
    "dml_update_delete",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey < 2000
), updated AS (
  SELECT o_orderkey,
         CASE WHEN o_totalprice > 150000 THEN 'H' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_totalprice > 150000 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS o_totalprice
  FROM base
)
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_totalprice) AS DECIMAL(24,2)) AS total
FROM updated
WHERE NOT o_orderstatus = 'F'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def dml_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE/DELETE DML surface (UpdateCommand.java / DeleteFromCommand
    .java) end-to-end through Engine.sql: snapshot a slice of orders as a
    managed table, UPDATE with an expression SET + WHERE, DELETE a
    status class, then aggregate the surviving snapshot. The oracle
    recomputes the same transform as pure SELECT algebra."""
    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = (
        load_tables(spark, sf_dir)["orders"]
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    eng.create_table(base, "__dml_orders")
    eng.sql(
        "UPDATE __dml_orders SET o_orderstatus = 'H', "
        "o_totalprice = o_totalprice * 1.1 WHERE o_totalprice > 150000"
    )
    eng.sql("DELETE FROM __dml_orders WHERE o_orderstatus = 'F'")
    return eng.sql(
        """
        SELECT o_orderstatus, count(*) AS cnt,
               CAST(sum(o_totalprice) AS DECIMAL(24,2)) AS total
        FROM __dml_orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


@query(
    "dml_insert_upsert",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST(1 AS BIGINT) AS ver
  FROM orders WHERE o_orderkey < 1000
), inserted AS (
  SELECT * FROM base
  UNION ALL
  SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice * 2 AS o_totalprice,
         CAST(2 AS BIGINT) AS ver
  FROM base WHERE o_totalprice > 200000
  UNION ALL
  SELECT 999999999, 'Z', 42.0, CAST(2 AS BIGINT)
), merged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, ver,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY ver DESC) AS rn
  FROM inserted
)
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_totalprice) AS DECIMAL(24,2)) AS total
FROM merged WHERE rn = 1
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def dml_insert_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO DML surface (InsertIntoTableCommand analog) through
    Engine.sql on a UNIQUE-keys table: an INSERT..SELECT upserts new
    versions of the high-price orders (sequence column 2 beats 1) and an
    INSERT..VALUES adds a brand-new key; the table, merged at CREATE and
    on every write, shows latest-version rows. The oracle recomputes the upsert as a
    row_number window over the unioned versions."""
    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = (
        load_tables(spark, sf_dir)["orders"]
        .filter(F.col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
                F.lit(1).cast("bigint").alias("ver"))
    )
    eng.create_table(base, "__ins_orders", keys_type="UNIQUE_KEYS",
                     keys=["o_orderkey"], sequence_col="ver")
    eng.sql(
        "INSERT INTO __ins_orders "
        "SELECT o_orderkey, 'X', o_totalprice * 2, CAST(2 AS BIGINT) "
        "FROM __ins_orders WHERE o_totalprice > 200000"
    )
    eng.sql("INSERT INTO __ins_orders VALUES (999999999, 'Z', 42.0, CAST(2 AS BIGINT))")
    return eng.sql(
        """
        SELECT o_orderstatus, count(*) AS cnt,
               CAST(sum(o_totalprice) AS DECIMAL(24,2)) AS total
        FROM __ins_orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


@query(
    "ddl_schema_change",
    oracle="""
SELECT o_orderstatus AS status, 'std' AS tier, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(o_totalprice) AS DECIMAL(24,2)) AS total
FROM orders WHERE o_orderkey < 1500
GROUP BY o_orderstatus
ORDER BY status
""",
)
def ddl_schema_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-change jobs (plans/schema_change.py; reference
    SchemaChangeHandler.java light path + schema_change.cpp direct
    rewrite) end-to-end through Engine.sql: ADD COLUMN with/without
    DEFAULT, MODIFY COLUMN type converter (INT -> BIGINT), RENAME
    COLUMN, DROP COLUMN, then aggregate the post-change table. The
    oracle recomputes the surviving schema as SELECT algebra."""
    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = (
        load_tables(spark, sf_dir)["orders"]
        .filter(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    eng.create_table(base, "__sc_orders")
    eng.sql("ALTER TABLE __sc_orders ADD COLUMN tier VARCHAR(8) DEFAULT 'std'")
    eng.sql("ALTER TABLE __sc_orders ADD COLUMN note STRING")
    eng.sql("ALTER TABLE __sc_orders MODIFY COLUMN o_orderkey BIGINT")
    eng.sql("ALTER TABLE __sc_orders RENAME COLUMN o_orderstatus status")
    eng.sql("ALTER TABLE __sc_orders DROP COLUMN note")
    return eng.sql(
        """
        SELECT status, tier, count(*) AS cnt,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(o_totalprice) AS DECIMAL(24,2)) AS total
        FROM __sc_orders
        GROUP BY status, tier
        ORDER BY status
        """
    )


# -------------------------------------------------------- bench control


@query("control_fixed_cpu_burn")
def control_fixed_cpu_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-control for the bench (r11 verdict #9): a FIXED, input-free,
    CPU-bound job — 16 partitions x 400k rows of chained xxhash64 folded
    into one sum — whose cost is identical at every scale factor and on
    every code revision. Round-over-round bench comparisons divide by
    this entry to separate box drift (r11: identical code measured
    +28-54% apart) from real plan changes. Deliberately NOT reading the
    fixture tables: any table read would make the control scale with SF
    and inherit scan-layout changes, defeating the purpose."""
    h = F.col("id")
    for i in range(8):
        h = F.xxhash64(h, F.lit(i))
    return (
        spark.range(0, 6_400_000, 1, 16)
        .select(h.alias("h"))
        .agg(F.bit_xor("h").alias("chk"), F.count(F.lit(1)).alias("n"))
    )
