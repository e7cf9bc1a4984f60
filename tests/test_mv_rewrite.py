"""Transparent MV rewrite (plans/mv_rewrite.py).

Reference: fe/fe-core/.../nereids/rules/exploration/mv/
MaterializedViewProjectAggregateRule.java (SPJG containment),
AggregateStrategies.java (sync rollup selection).
"""

from __future__ import annotations

import pytest

from doris_spark.plans.mv_rewrite import MVDef, try_rewrite

MV = MVDef.build(
    "orders_mv",
    "orders",
    dims=["o_orderpriority", "o_orderstatus"],
    measures={
        "cnt": "count(*)",
        "sum_price": "sum(o_totalprice)",
        "min_price": "min(o_totalprice)",
        "max_price": "max(o_totalprice)",
        "cnt_price": "count(o_totalprice)",
    },
)


def test_exact_dims_rewrite():
    out = try_rewrite(
        "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total "
        "FROM orders GROUP BY o_orderpriority",
        [MV],
    )
    assert out is not None
    sql, name = out
    assert name == "orders_mv"
    assert "FROM orders_mv" in sql
    assert "sum(`cnt`) AS n" in sql
    assert "sum(`sum_price`) AS total" in sql


def test_rollup_subset_dims_with_where_and_avg():
    out = try_rewrite(
        "SELECT o_orderstatus, avg(o_totalprice) AS ap, min(o_totalprice) AS mn "
        "FROM orders WHERE o_orderpriority = '1-URGENT' "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
        [MV],
    )
    assert out is not None
    sql, _ = out
    assert "(sum(`sum_price`) / sum(`cnt_price`)) AS ap" in sql
    assert "min(`min_price`) AS mn" in sql
    assert "WHERE o_orderpriority = '1-URGENT'" in sql


def test_no_rewrite_on_unknown_aggregate_or_dim():
    # stddev is not derivable from the partials
    assert try_rewrite(
        "SELECT o_orderpriority, stddev(o_totalprice) FROM orders "
        "GROUP BY o_orderpriority",
        [MV],
    ) is None
    # filter on a non-dim column
    assert try_rewrite(
        "SELECT o_orderpriority, count(*) FROM orders "
        "WHERE o_custkey = 5 GROUP BY o_orderpriority",
        [MV],
    ) is None
    # group by a non-dim column
    assert try_rewrite(
        "SELECT o_custkey, count(*) FROM orders GROUP BY o_custkey", [MV]
    ) is None
    # distinct aggregate
    assert try_rewrite(
        "SELECT o_orderpriority, count(DISTINCT o_custkey) FROM orders "
        "GROUP BY o_orderpriority",
        [MV],
    ) is None
    # join / other table untouched
    assert try_rewrite("SELECT * FROM lineitem", [MV]) is None


def test_where_literal_with_escaped_quote_stays_one_conjunct():
    # 'x\' and o_orderstatus' is ONE literal: splitting its text at the
    # AND would re-join it as `... AND o_orderstatus'` and change the data
    lit = r"'x\' and o_orderstatus'"
    out = try_rewrite(
        f"SELECT o_orderstatus, count(*) AS n FROM orders "
        f"WHERE o_orderpriority = {lit} GROUP BY o_orderstatus",
        [MV],
    )
    assert out is not None
    assert f"WHERE o_orderpriority = {lit}\n" in out[0]


def test_having_rewrite():
    out = try_rewrite(
        "SELECT o_orderpriority, count(*) AS n FROM orders "
        "GROUP BY o_orderpriority HAVING count(*) > 10 ORDER BY n DESC LIMIT 3",
        [MV],
    )
    assert out is not None
    sql, _ = out
    assert "HAVING sum(`cnt`) > 10" in sql
    assert "LIMIT 3" in sql


def test_engine_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from doris_spark.engine import Engine
    from doris_spark.session import register_views
    from doris_spark.streaming.mtmv import MaterializedView

    register_views(spark, "/root/testdata/sf0.001")
    eng = Engine(spark)
    base = spark.table("orders")

    mv = MaterializedView(
        spark,
        "orders_prio_mv",
        str(tmp_path),
        definition=lambda df: df.groupBy("o_orderpriority", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_totalprice").alias("sum_price"),
        ),
        partition_col="o_orderpriority",
    )
    mv.refresh(base)
    eng.register_mv(
        "orders_prio_mv",
        "orders",
        dims=["o_orderpriority", "o_orderstatus"],
        measures={"cnt": "count(*)", "sum_price": "sum(o_totalprice)"},
        view=mv.read(),
    )

    q = (
        "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    got = eng.sql(q)
    assert eng.last_mv_rewrite == "orders_prio_mv"
    plan = got._jdf.queryExecution().executedPlan().toString()
    # scan target is the MV parquet (its partial columns in ReadSchema),
    # not the base orders table
    assert "sum_price" in plan and "o_custkey" not in plan

    exp = spark.table("orders").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total")
    ).orderBy("o_orderstatus").collect()
    got_rows = got.collect()
    assert [(r.o_orderstatus, r.n) for r in got_rows] == [
        (r.o_orderstatus, r.n) for r in exp
    ]
    for g, e in zip(got_rows, exp):
        assert g.total == pytest.approx(e.total, rel=1e-9)


# --- round-5 extensions: filter containment + join-aware SPJG ----------

MV_FILTERED = MVDef.build(
    "orders_97_mv",
    "orders",
    dims=["o_orderstatus", "o_orderpriority"],
    measures={"cnt": "count(*)", "sum_price": "sum(o_totalprice)"},
    where="o_orderdate >= TIMESTAMP '1997-01-01'",
)

MV_JOIN = MVDef.build(
    "orders_cust_mv",
    "orders JOIN customer ON o_custkey = c_custkey",
    dims=["c_mktsegment", "o_orderstatus"],
    measures={"cnt": "count(*)", "sum_price": "sum(o_totalprice)"},
)


def test_filtered_mv_requires_its_conjunct():
    # query repeats the MV conjunct verbatim + a dim residual -> rewrite,
    # and the MV conjunct is dropped from the residual WHERE
    out = try_rewrite(
        "SELECT o_orderstatus, count(*) AS n FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderpriority = '1-URGENT' GROUP BY o_orderstatus",
        [MV_FILTERED],
    )
    assert out is not None
    sql, name = out
    assert name == "orders_97_mv"
    assert "o_orderdate" not in sql
    assert "o_orderpriority = '1-URGENT'" in sql

    # query WITHOUT the MV's filter must not match (it would lose rows)
    assert try_rewrite(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus",
        [MV_FILTERED],
    ) is None

    # residual over a non-dim (fact column) must not match
    assert try_rewrite(
        "SELECT o_orderstatus, count(*) AS n FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice > 5 "
        "GROUP BY o_orderstatus",
        [MV_FILTERED],
    ) is None


def test_join_mv_matches_commuted_on_condition():
    out = try_rewrite(
        "SELECT c_mktsegment, sum(o_totalprice) AS total FROM orders "
        "JOIN customer ON c_custkey = o_custkey "
        "WHERE o_orderstatus = 'F' GROUP BY c_mktsegment",
        [MV_JOIN],
    )
    assert out is not None
    assert out[1] == "orders_cust_mv"
    assert "FROM orders_cust_mv" in out[0]


def test_join_mv_rejects_different_chain():
    assert try_rewrite(
        "SELECT c_mktsegment, sum(o_totalprice) AS total FROM orders "
        "JOIN nation ON o_custkey = n_nationkey GROUP BY c_mktsegment",
        [MV_JOIN],
    ) is None


def test_join_mv_engine_end_to_end(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from doris_spark.engine import Engine
    from doris_spark.session import load_tables, register_views

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    register_views(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    eng = Engine(spark)
    mv_df = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("o_totalprice").alias("sum_price"))
    )
    eng.register_mv(
        "orders_cust_mv",
        "orders JOIN customer ON o_custkey = c_custkey",
        dims=["c_mktsegment", "o_orderstatus"],
        measures={"cnt": "count(*)", "sum_price": "sum(o_totalprice)"},
        view=mv_df,
    )
    got = eng.sql(
        "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS total "
        "FROM orders JOIN customer ON c_custkey = o_custkey "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ).collect()
    assert eng.last_mv_rewrite == "orders_cust_mv"
    want = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total"))
        .orderBy("c_mktsegment")
    ).collect()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g[0], g[1]) == (w[0], w[1])
        assert g[2] == pytest.approx(w[2], rel=1e-9)  # partial re-agg sum order
