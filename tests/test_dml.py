"""Engine.sql UPDATE / DELETE / INSERT (Doris DML surface).

Reference: fe/fe-core/.../nereids/trees/plans/commands/UpdateCommand.java
and DeleteFromCommand.java — UPDATE plans an insert of rewritten rows on
a UNIQUE table; DELETE filters by predicate. Here both are snapshot
rewrites of the backing view (engine.Engine._dml), pinned in one Spark job
that also counts the affected rows; at lakehouse scale the same statements
map to Delta/Iceberg MERGE/DELETE. An INSERT into a UNIQUE or AGG table
re-merges only the keys its batch touches
(table_models.merge_touched_keys); the tests below pin that against the
whole-table re-merge, and pin that statement replies run no Spark job.
"""

from __future__ import annotations

import pytest

from doris_spark.engine import Engine


@pytest.fixture
def eng(spark):
    e = Engine(spark)
    df = spark.createDataFrame(
        [
            (1, 100.0, "Pending", 1),
            (2, 250.0, "Pending", 1),
            (3, 75.5, "Shipped", 1),
        ],
        "order_id INT, order_amount DOUBLE, order_status STRING, ver INT",
    )
    e.create_table(df, "dml_orders", keys_type="UNIQUE_KEYS",
                   keys=["order_id"], sequence_col="ver")
    return e


def _rows(e):
    return {
        (r.order_id, r.order_amount, r.order_status)
        for r in e.sql("SELECT order_id, order_amount, order_status FROM dml_orders").collect()
    }


def test_update_with_where(eng):
    res = eng.sql(
        "UPDATE dml_orders SET order_status = 'To be shipped' WHERE order_id = 1"
    ).collect()
    assert res[0].affected == 1
    assert (1, 100.0, "To be shipped") in _rows(eng)
    assert (2, 250.0, "Pending") in _rows(eng)


def test_update_expression_and_multi_assign(eng):
    eng.sql(
        "UPDATE dml_orders SET order_amount = order_amount * 2, "
        "order_status = concat(order_status, '!') WHERE order_amount < 200"
    )
    rows = _rows(eng)
    assert (1, 200.0, "Pending!") in rows
    assert (3, 151.0, "Shipped!") in rows
    assert (2, 250.0, "Pending") in rows


def test_update_without_where_touches_all(eng):
    res = eng.sql("UPDATE dml_orders SET order_status = 'X'").collect()
    assert res[0].affected == 3
    assert {s for (_, _, s) in _rows(eng)} == {"X"}


def test_update_preserves_column_type(eng):
    eng.sql("UPDATE dml_orders SET order_amount = 1 WHERE order_id = 2")
    schema = {f.name: f.dataType.simpleString()
              for f in eng.table("dml_orders").schema.fields}
    assert schema["order_amount"] == "double"


def test_delete_where(eng):
    res = eng.sql("DELETE FROM dml_orders WHERE order_status = 'Pending'").collect()
    assert res[0].affected == 2
    assert _rows(eng) == {(3, 75.5, "Shipped")}


def test_delete_requires_where(eng):
    with pytest.raises(ValueError):
        eng.sql("DELETE FROM dml_orders")


def test_update_unknown_column_rejected(eng):
    with pytest.raises(ValueError):
        eng.sql("UPDATE dml_orders SET nope = 1")


def test_dml_chain_then_query(eng):
    eng.sql("UPDATE dml_orders SET order_amount = order_amount + 1")
    eng.sql("DELETE FROM dml_orders WHERE order_id = 3")
    eng.sql("UPDATE dml_orders SET order_status = 'done' WHERE order_amount > 200")
    assert _rows(eng) == {(1, 101.0, "Pending"), (2, 251.0, "done")}


def test_doris_function_in_dml(eng):
    # the SET/WHERE fragments pass through the macro layer: Doris-only
    # spellings work inside DML
    eng.sql("UPDATE dml_orders SET order_status = 'L' "
            "WHERE length(order_status) > 6")
    assert (1, 100.0, "L") in _rows(eng)


def test_update_string_literal_containing_where(eng):
    # ADVICE r4: a WHERE inside a SET string literal must not split the
    # statement (quote-aware scanner, not a bare regex)
    res = eng.sql(
        "UPDATE dml_orders SET order_status = 'call where needed' "
        "WHERE order_id = 1"
    ).collect()
    assert res[0].affected == 1
    assert (1, 100.0, "call where needed") in _rows(eng)


def test_dml_fragment_gets_dialect(eng, spark):
    # ADVICE r4: DML predicates share the query dialect — arr[1] is the
    # FIRST element in both DELETE and SELECT
    e = Engine(spark)
    df = spark.createDataFrame(
        [(1, ["x", "y"]), (2, ["y", "x"])], "id INT, arr ARRAY<STRING>"
    )
    e.create_table(df, "dml_arr")
    res = e.sql("DELETE FROM dml_arr WHERE arr[1] = 'x'").collect()
    assert res[0].affected == 1
    assert [r.id for r in e.sql("SELECT id FROM dml_arr").collect()] == [2]


# ---------------------------------------------------- INSERT INTO / EXPLAIN


def test_insert_values_dup_table(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    eng.create_table(base, "ins_dup")
    ok = eng.sql("INSERT INTO ins_dup VALUES (3, 'c'), (4, 'd')").collect()
    assert ok[0]["affected_rows"] == 2
    got = sorted(tuple(r) for r in eng.sql("SELECT * FROM ins_dup").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_insert_values_unique_upsert(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1, 10, "old"), (2, 10, "keep")], "id bigint, ver int, v string"
    )
    eng.create_table(base, "ins_uni", keys_type="UNIQUE_KEYS",
                     keys=["id"], sequence_col="ver")
    eng.sql("INSERT INTO ins_uni VALUES (1, 20, 'new'), (3, 5, 'ins')")
    got = {r["id"]: r["v"] for r in eng.sql("SELECT * FROM ins_uni").collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}
    # lower sequence than current must NOT win
    eng.sql("INSERT INTO ins_uni VALUES (1, 15, 'stale')")
    got = {r["id"]: r["v"] for r in eng.sql("SELECT * FROM ins_uni").collect()}
    assert got[1] == "new"


def test_insert_select_and_partial_columns(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = spark.createDataFrame([(1, "a", 5)], "id bigint, v string, n int")
    eng.create_table(base, "ins_sel")
    eng.sql("INSERT INTO ins_sel (id, v) VALUES (9, 'z')")
    row = [r for r in eng.sql("SELECT * FROM ins_sel").collect() if r["id"] == 9][0]
    assert row["v"] == "z" and row["n"] is None
    eng.sql("INSERT INTO ins_sel SELECT id + 100, v, n FROM ins_sel WHERE id = 1")
    ids = sorted(r["id"] for r in eng.sql("SELECT * FROM ins_sel").collect())
    assert ids == [1, 9, 101]


def test_explain_shows_mv_scan(spark):
    from pyspark.sql import functions as F

    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1, "F", 10.0), (2, "O", 20.0), (3, "F", 30.0)],
        "id bigint, st string, price double",
    )
    base.createOrReplaceTempView("exp_base")
    mv = base.groupBy("st").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("price").alias("sum_price")
    )
    eng.register_mv("exp_mv", "exp_base", dims=["st"],
                    measures={"cnt": "count(*)", "sum_price": "sum(price)"},
                    view=mv)
    plan = "\n".join(
        r[0] for r in eng.sql(
            "EXPLAIN SELECT st, count(*) AS n FROM exp_base GROUP BY st"
        ).collect()
    )
    assert eng.last_mv_rewrite == "exp_mv"
    # the planned aggregate re-aggregates the MV partial (sum over cnt),
    # not count(1) over the base relation (temp-view names don't surface
    # in physical plans; the partial-column reference is the tell)
    assert "sum(cnt" in plan


def test_explain_plain_query(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    rows = eng.sql("EXPLAIN VERBOSE SELECT 1 + 1 AS x").collect()
    assert rows and "Physical Plan" in "\n".join(r[0] for r in rows)


def test_ctas_then_dml_roundtrip(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id bigint, v string, price double",
    ).createOrReplaceTempView("ctas_src")
    ok = eng.sql("CREATE TABLE ctas_t AS SELECT id, v, price FROM ctas_src WHERE id < 3")
    assert ok.collect()[0]["affected_rows"] == 2
    eng.sql("INSERT INTO ctas_t VALUES (9, 'z', 90.0)")
    eng.sql("UPDATE ctas_t SET price = price + 1 WHERE id = 1")
    got = sorted(tuple(r) for r in eng.sql("SELECT * FROM ctas_t").collect())
    assert got == [(1, "a", 11.0), (2, "b", 20.0), (9, "z", 90.0)]


def test_show_statements_passthrough(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame([(1,)], "id bigint").createOrReplaceTempView("show_t")
    tables = [r["tableName"] for r in eng.sql("SHOW TABLES").collect()]
    assert "show_t" in tables
    fns = eng.sql("SHOW FUNCTIONS LIKE 'bitmap*'").count()
    assert fns > 10  # the registered Doris bitmap surface
    desc = eng.sql("DESCRIBE show_t").collect()
    assert desc[0]["col_name"] == "id"


def test_truncate_table(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    eng.create_table(spark.createDataFrame([(1, "a")], "id bigint, v string"), "tr_t")
    eng.sql("TRUNCATE TABLE tr_t")
    assert eng.sql("SELECT * FROM tr_t").count() == 0
    # schema + insertability survive
    eng.sql("INSERT INTO tr_t VALUES (5, 'x')")
    assert [tuple(r) for r in eng.sql("SELECT * FROM tr_t").collect()] == [(5, "x")]


def test_auto_increment_insert(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    eng.create_table(base, "ai_t", auto_increment="id")
    eng.sql("INSERT INTO ai_t (v) VALUES ('c'), ('d')")
    got = {r["v"]: r["id"] for r in eng.sql("SELECT * FROM ai_t").collect()}
    assert sorted(got.values()) == [1, 2, 3, 4]
    # explicit ids still honored; next auto id rides above the new max
    eng.sql("INSERT INTO ai_t VALUES (10, 'e')")
    eng.sql("INSERT INTO ai_t (v) VALUES ('f')")
    got = {r["v"]: r["id"] for r in eng.sql("SELECT * FROM ai_t").collect()}
    assert got["e"] == 10 and got["f"] == 11


def test_set_time_zone_statement(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        eng.sql("SET time_zone = 'America/New_York'")
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        # the zone drives timestamp rendering through the engine
        h = eng.sql("SELECT hour(cast('2024-01-01 00:00:00+00:00' as timestamp)) AS h").collect()[0]["h"]
        assert h == 19  # UTC midnight = 19:00 EST
        eng.sql("SET time_zone = '+08:00'")
        assert spark.conf.get("spark.sql.session.timeZone") == "+08:00"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_insert_agg_keys_accumulates(spark):
    from doris_spark.engine import Engine

    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1, 5.0, 100), (1, 3.0, 101), (2, 7.0, 100)],
        "id bigint, amount double, ver int",
    )
    eng.create_table(base, "agg_ins_t", keys_type="AGG_KEYS", keys=["id"],
                     agg_spec={"amount": "SUM", "ver": "MAX"})
    eng.sql("INSERT INTO agg_ins_t VALUES (1, 2.0, 102), (3, 9.0, 100)")
    got = sorted(tuple(r) for r in eng.table("agg_ins_t").collect())
    # SUM re-accumulates over the merged snapshot + new rows; MAX advances
    assert got == [(1, 10.0, 102), (2, 7.0, 100), (3, 9.0, 100)]


def test_update_partitioned_table_rewrites_only_touched_partition(spark, tmp_path):
    """Partition-pruned DML (engine._dml _pruned_rewrite): an UPDATE
    whose matched rows live in ONE partition must rewrite only that
    partition's files (dynamic partition overwrite) — the other
    partitions' data files stay byte-identical on disk. At 100 TB this
    is the difference between touching one partition and materializing
    the snapshot."""
    import os

    from doris_spark.engine import Engine

    eng = Engine(spark)
    spark.sql("DROP TABLE IF EXISTS part_dml_t")
    spark.sql(
        "CREATE TABLE part_dml_t (id INT, val DOUBLE, day STRING) "
        "USING parquet PARTITIONED BY (day) "
        f"LOCATION '{tmp_path}/part_dml_t'"
    )
    spark.sql(
        "INSERT INTO part_dml_t VALUES "
        "(1, 1.0, 'd1'), (2, 2.0, 'd1'), (3, 3.0, 'd2'), (4, 4.0, 'd3')"
    )

    def files(day):
        d = os.path.join(str(tmp_path), "part_dml_t", f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )

    before = {d: files(d) for d in ("d1", "d2", "d3")}
    r = eng.sql("UPDATE part_dml_t SET val = val * 10 WHERE id = 1").collect()
    assert r[0]["affected"] == 1
    after = {d: files(d) for d in ("d1", "d2", "d3")}
    assert after["d2"] == before["d2"], "untouched partition d2 was rewritten"
    assert after["d3"] == before["d3"], "untouched partition d3 was rewritten"
    assert after["d1"] != before["d1"], "touched partition d1 must be rewritten"
    got = sorted(tuple(r) for r in spark.table("part_dml_t").collect())
    assert got == [
        (1, 10.0, "d1"), (2, 2.0, "d1"), (3, 3.0, "d2"), (4, 4.0, "d3")
    ]

    # DELETE prunes the same way
    before = {d: files(d) for d in ("d1", "d2", "d3")}
    r = eng.sql("DELETE FROM part_dml_t WHERE day = 'd2' AND id = 3").collect()
    assert r[0]["affected"] == 1
    after = {d: files(d) for d in ("d1", "d3")}
    assert after["d1"] == before["d1"] and after["d3"] == before["d3"]
    got = sorted(tuple(r) for r in spark.table("part_dml_t").collect())
    assert got == [(1, 10.0, "d1"), (2, 2.0, "d1"), (4, 4.0, "d3")]
    spark.sql("DROP TABLE part_dml_t")


def test_engine_cast_keeps_native_types(eng):
    # ADVICE r7: the engine API must not fold cast('5' as int) to a
    # STRING literal — integer-target golden-rendering folds belong to
    # the suite-runner path only
    df = eng.sql("SELECT cast('5' as int) AS v, cast('1.5' as bigint) AS w")
    assert df.schema["v"].dataType.typeName() == "integer"
    assert df.schema["w"].dataType.typeName() == "long"
    r = df.collect()[0]
    assert r["v"] == 5


def test_recursive_cte_does_not_shadow_views(eng):
    # ADVICE r7: a recursive CTE named like an existing view must not
    # replace that view for subsequent statements
    spark = eng.spark
    spark.createDataFrame([(99,)], "marker INT").createOrReplaceTempView(
        "shadow_probe")
    out = eng.sql(
        "WITH RECURSIVE shadow_probe AS ("
        " SELECT 1 AS n UNION SELECT n + 1 FROM shadow_probe WHERE n < 3"
        ") SELECT * FROM shadow_probe ORDER BY n")
    assert [r["n"] for r in out.collect()] == [1, 2, 3]
    # the pre-existing view is untouched
    back = spark.sql("SELECT * FROM shadow_probe").collect()
    assert back[0]["marker"] == 99
    spark.catalog.dropTempView("shadow_probe")


def test_file_pruned_dml_unpartitioned(spark, tmp_path):
    """VERDICT r7 ask #6: a selective UPDATE on an UNPARTITIONED
    multi-file catalog table rewrites a strict subset of files (pruned
    via _metadata.file_path), leaving untouched files in place."""
    import os

    from doris_spark.engine import Engine

    eng = Engine(spark)
    spark.sql("DROP TABLE IF EXISTS fp_dml_t")
    spark.sql("CREATE TABLE fp_dml_t (id INT, v STRING) USING parquet")
    # three separate single-file inserts -> three files, disjoint ids
    for lo in (0, 100, 200):
        spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(5)], "id INT, v STRING"
        ).coalesce(1).write.insertInto("fp_dml_t")
    files_before = set(spark.table("fp_dml_t").inputFiles())
    assert len(files_before) == 3

    res = eng.sql("UPDATE fp_dml_t SET v = 'X' WHERE id = 102")
    assert res.collect()[0][0] == 1
    files_after = set(spark.table("fp_dml_t").inputFiles())
    # the two untouched files SURVIVE byte-identical (same paths)
    assert len(files_before & files_after) == 2
    rows = {
        r.id: r.v for r in spark.table("fp_dml_t").collect()
    }
    assert rows[102] == "X" and rows[101] == "v101" and len(rows) == 15

    # file-pruned DELETE: only the file holding id=203 is rewritten
    before2 = set(spark.table("fp_dml_t").inputFiles())
    res = eng.sql("DELETE FROM fp_dml_t WHERE id = 203")
    assert res.collect()[0][0] == 1
    after2 = set(spark.table("fp_dml_t").inputFiles())
    assert len(before2 & after2) >= 2
    assert spark.table("fp_dml_t").count() == 14
    spark.sql("DROP TABLE IF EXISTS fp_dml_t")


# ------------------------------------------- touched-keys merge and job counts


def _sorted(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: [(x is None, x) for x in r])


def test_insert_batch_with_two_rows_of_one_key_keeps_higher_sequence(spark):
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1, 10, "old"), (2, 10, "keep")], "id bigint, ver int, v string")
    eng.create_table(base, "tk_dup_key", keys_type="UNIQUE_KEYS",
                     keys=["id"], sequence_col="ver")
    ok = eng.sql("INSERT INTO tk_dup_key VALUES (1, 30, 'hi'), (1, 20, 'lo'), "
                 "(3, 7, 'b'), (3, 9, 'a')").collect()
    assert ok[0]["affected_rows"] == 4
    assert _sorted(eng.table("tk_dup_key")) == [
        (1, 30, "hi"), (2, 10, "keep"), (3, 9, "a")]


def test_insert_tombstone_drops_key_only_when_newer(spark):
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1, 10, "x", False), (2, 10, "y", False), (3, 10, "z", False)],
        "id bigint, ver int, v string, del boolean")
    eng.create_table(base, "tk_tomb", keys_type="UNIQUE_KEYS", keys=["id"],
                     sequence_col="ver", delete_col="del")
    eng.sql("INSERT INTO tk_tomb VALUES (1, 20, 'x', true), (2, 5, 'y2', true)")
    assert _sorted(eng.table("tk_tomb")) == [(2, 10, "y", False), (3, 10, "z", False)]
    # a newer live row brings a dropped key back
    eng.sql("INSERT INTO tk_tomb VALUES (1, 30, 'back', false)")
    assert _sorted(eng.table("tk_tomb")) == [
        (1, 30, "back", False), (2, 10, "y", False), (3, 10, "z", False)]


def test_insert_null_key_merges_with_stored_null_key(spark):
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(None, 1, "n1"), (5, 1, "five")], "id bigint, ver int, v string")
    eng.create_table(base, "tk_null", keys_type="UNIQUE_KEYS",
                     keys=["id"], sequence_col="ver")
    eng.sql("INSERT INTO tk_null VALUES (NULL, 2, 'n2')")
    assert _sorted(eng.table("tk_null")) == [(5, 1, "five"), (None, 2, "n2")]
    eng.sql("INSERT INTO tk_null VALUES (NULL, 0, 'stale')")
    assert _sorted(eng.table("tk_null")) == [(5, 1, "five"), (None, 2, "n2")]


def test_insert_agg_keys_leaves_untouched_keys_unchanged(spark):
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1, 5.0, 3, 9, 1, "a"), (1, 2.0, 1, 4, 2, "b"),
         (2, 7.0, 8, 8, 1, "c"), (3, 1.0, 2, 2, 1, "d")],
        "id bigint, s double, lo int, hi int, ver int, r string")
    eng.create_table(base, "tk_agg", keys_type="AGG_KEYS", keys=["id"],
                     sequence_col="ver",
                     agg_spec={"s": "SUM", "lo": "MIN", "hi": "MAX",
                               "ver": "MAX", "r": "REPLACE"})
    before = {r["id"]: tuple(r) for r in eng.table("tk_agg").collect()}
    assert before[1] == (1, 7.0, 1, 9, 2, "b")
    eng.sql("INSERT INTO tk_agg VALUES (2, 1.5, 0, 20, 3, 'c2'), (4, 4.0, 4, 4, 1, 'e')")
    after = {r["id"]: tuple(r) for r in eng.table("tk_agg").collect()}
    assert after[1] == before[1] and after[3] == before[3]
    assert after[2] == (2, 8.5, 0, 20, 3, "c2")
    assert after[4] == (4, 4.0, 4, 4, 1, "e")


def test_touched_keys_insert_matches_whole_table_remerge(spark):
    """The engine's keyed INSERT equals the keys model applied to the whole
    table plus the batch (what every INSERT computed before), over NULL
    keys, repeated keys in one batch, tombstones and a composite key."""
    import random

    from doris_spark.operators.table_models import unique_key_view

    rng = random.Random(11)
    eng = Engine(spark)
    schema = "a int, b string, ver int, v int, del boolean"
    key = lambda: (rng.choice([None, 1, 2, 3]), rng.choice([None, "p", "q"]))  # noqa: E731
    seqs = iter(rng.sample(range(1, 10_000), 200))  # distinct: no ties
    rows = [(*key(), next(seqs), rng.randrange(100), rng.random() < 0.2)
            for _ in range(30)]
    eng.create_table(spark.createDataFrame(rows, schema), "tk_prop",
                     keys_type="UNIQUE_KEYS", keys=["a", "b"],
                     sequence_col="ver", delete_col="del")
    for _ in range(4):
        cur = eng.table("tk_prop")
        batch = [(*key(), next(seqs), rng.randrange(100), rng.random() < 0.2)
                 for _ in range(6)]
        expect = _sorted(unique_key_view(
            cur.unionByName(spark.createDataFrame(batch, schema)),
            ["a", "b"], "ver", delete_col="del"))
        values = ", ".join(
            "(" + ", ".join("NULL" if x is None else repr(x).lower()
                            if isinstance(x, bool) else repr(x) for x in r) + ")"
            for r in batch)
        eng.sql(f"INSERT INTO tk_prop VALUES {values}")
        assert _sorted(eng.table("tk_prop")) == expect


def test_insert_select_from_the_table_itself(spark):
    """A batch selected from the target table shares its lineage; the merge
    must still replace exactly the touched keys, on the lazy base view and
    on a pinned snapshot."""
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(i, 1, f"v{i}") for i in range(1, 7)], "id bigint, ver bigint, v string")
    eng.create_table(base.filter("id < 6"), "tk_self", keys_type="UNIQUE_KEYS",
                     keys=["id"], sequence_col="ver")
    ok = eng.sql("INSERT INTO tk_self SELECT id, ver + 1, concat(v, '!') "
                 "FROM tk_self WHERE id <= 2").collect()
    assert ok[0]["affected_rows"] == 2
    eng.sql("INSERT INTO tk_self SELECT id + 10, ver, v FROM tk_self WHERE id > 3")
    assert _sorted(eng.table("tk_self")) == [
        (1, 2, "v1!"), (2, 2, "v2!"), (3, 1, "v3"), (4, 1, "v4"), (5, 1, "v5"),
        (14, 1, "v4"), (15, 1, "v5")]


def test_writes_with_empty_inputs_reply_zero(spark):
    eng = Engine(spark)
    eng.create_table(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "id int, ver int, v string"),
        "tk_empty", keys_type="UNIQUE_KEYS", keys=["id"], sequence_col="ver")
    assert eng.sql("INSERT INTO tk_empty SELECT * FROM tk_empty WHERE false"
                   ).collect()[0][0] == 0
    eng.sql("TRUNCATE TABLE tk_empty")
    assert eng.sql("UPDATE tk_empty SET v = 'x'").collect()[0][0] == 0
    assert eng.sql("DELETE FROM tk_empty WHERE id = 1").collect()[0][0] == 0
    assert eng.sql("INSERT INTO tk_empty VALUES (4, 1, 'd')").collect()[0][0] == 1
    assert _sorted(eng.table("tk_empty")) == [(4, 1, "d")]


def test_update_delete_do_not_count_null_predicate_rows(spark):
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1, 150.0, 1), (2, None, 1), (3, 50.0, 1), (4, 300.0, 1)],
        "id int, amount double, ver int")
    eng.create_table(base, "tk_nullpred", keys_type="UNIQUE_KEYS",
                     keys=["id"], sequence_col="ver")
    res = eng.sql("UPDATE tk_nullpred SET ver = 2 WHERE amount > 100").collect()
    assert res[0]["affected"] == 2
    assert _sorted(eng.table("tk_nullpred")) == [
        (1, 150.0, 2), (2, None, 1), (3, 50.0, 1), (4, 300.0, 2)]
    res = eng.sql("DELETE FROM tk_nullpred WHERE amount < 200").collect()
    assert res[0]["affected"] == 2
    assert _sorted(eng.table("tk_nullpred")) == [(2, None, 1), (4, 300.0, 2)]


def test_update_of_key_column_keeps_one_row_per_key(spark):
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1, 5, "a"), (2, 9, "b")], "id int, ver int, v string")
    eng.create_table(base, "tk_keyupd", keys_type="UNIQUE_KEYS",
                     keys=["id"], sequence_col="ver")
    assert eng.sql("UPDATE tk_keyupd SET id = 2 WHERE id = 1").collect()[0][0] == 1
    assert _sorted(eng.table("tk_keyupd")) == [(2, 9, "b")]
    eng.sql("INSERT INTO tk_keyupd VALUES (3, 1, 'c')")
    assert _sorted(eng.table("tk_keyupd")) == [(2, 9, "b"), (3, 1, "c")]


def test_modify_of_key_column_keeps_one_row_per_key(spark):
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(1.2, 1, "a"), (1.7, 2, "b"), (3.0, 1, "c")], "k double, ver int, v string")
    eng.create_table(base, "tk_keymod", keys_type="UNIQUE_KEYS",
                     keys=["k"], sequence_col="ver")
    eng.sql("ALTER TABLE tk_keymod MODIFY COLUMN k INT")
    assert _sorted(eng.table("tk_keymod")) == [(1, 2, "b"), (3, 1, "c")]


def _job_count(spark, action):
    """Spark jobs `action()` starts, counted through a job group and the
    status tracker (as tools/jobcount.py counts them)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_replies_run_no_job_and_update_delete_one_job(spark):
    eng = Engine(spark)
    base = spark.createDataFrame(
        [(i, i % 7, 1) for i in range(200)], "id int, v int, ver int")
    eng.create_table(base, "tk_jobs", keys_type="UNIQUE_KEYS",
                     keys=["id"], sequence_col="ver")
    for text in ("UPDATE tk_jobs SET v = v + 1 WHERE id < 10",
                 "DELETE FROM tk_jobs WHERE id = 3",
                 "INSERT INTO tk_jobs VALUES (500, 1, 2), (4, 0, 2)"):
        reply = eng.sql(text)
        assert _job_count(spark, reply.collect) == 0, text
        assert reply.schema[0].dataType.simpleString() == "bigint"
    # the table is a pinned snapshot now: each UPDATE / DELETE is one pass
    for text, where in (("UPDATE tk_jobs SET v = 0 WHERE v = 3", "v = 3"),
                        ("DELETE FROM tk_jobs WHERE v = 0", "v = 0")):
        n = eng.sql(f"SELECT count(*) FROM tk_jobs WHERE {where}").collect()[0][0]
        out = []
        assert _job_count(spark, lambda t=text: out.append(eng.sql(t).collect())) == 1, text
        assert out[0][0]["affected"] == n
