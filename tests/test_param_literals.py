"""The jar's `ParamLiterals` rule: literal-free generated code for Filter
and Project.

Spark's `Literal` writes numeric, boolean, date, timestamp and interval
values into the generated Java source, so a statement that differs from an
earlier one only in such a constant compiled new classes with Janino. The
rule replaces those literals in `FilterExec` conditions and `ProjectExec`
lists with `ParamLiteral`s, which read the value from the generated class's
references, so the code cache serves every statement of one shape. These
tests pin that the second statement of a shape compiles nothing, and that
results, EXPLAIN text, seeded `rand`, window frames and exchange reuse are
those of the same session without the rule.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import SparkSession

from doris_spark.engine import Engine


def _compiles(spark) -> int:
    """Janino compilations of this JVM so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _compiled_by(spark, action) -> tuple[int, list]:
    before = _compiles(spark)
    rows = action()
    return _compiles(spark) - before, rows


def _without_rules(spark) -> SparkSession:
    """A clone of `spark`'s confs, functions and temp views built with no
    session extension: the same engine session minus the jar's rules."""
    j = spark._jvm
    jss = spark._jsparkSession
    empty = j.PythonUtils.toScalaMap(j.java.util.HashMap())
    plain = getattr(j, "org.apache.spark.sql.classic.SparkSession")(
        jss.sparkContext(), j.scala.Some(jss.sharedState()), j.scala.Some(jss.sessionState()),
        j.org.apache.spark.sql.SparkSessionExtensions(), empty, empty)
    assert plain.sessionState().columnarRules().isEmpty()
    return SparkSession(spark.sparkContext, plain)


def _canon(rows) -> list[str]:
    # repr keeps what == hides: -0.0 against 0.0, NaN against NaN.
    return sorted(repr(tuple(r)) for r in rows)


def _final_plan(df) -> str:
    """The executed plan's text after a collect, with expression and plan
    ids masked, so two sessions' plans of one text compare equal."""
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"(#|plan_id=|id=#)\d+", r"\1N", text)


_TYPES_SCHEMA = (
    "k INT, seq INT, i INT, b BIGINT, s SMALLINT, t TINYINT, d DOUBLE, f FLOAT, "
    "z BOOLEAN, dt DATE, ts TIMESTAMP, ntz TIMESTAMP_NTZ"
)


def _types_rows():
    doubles = [float("nan"), -0.0, 0.0, 2.5, -1.5, 1e300, None]
    rows = []
    for k in range(14):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=17 * k)
        at = dt.datetime(2024, 1, 1, 6) + dt.timedelta(hours=29 * k, microseconds=7 * k)
        rows.append((
            k, 1, k - 6, (k - 7) * 1_500_000_000, (k - 5) * 70, k - 8,
            doubles[k % len(doubles)], (k - 6) * 0.25, None if k % 5 == 0 else k % 2 == 0,
            None if k % 6 == 0 else day, None if k % 7 == 3 else at, at,
        ))
    return rows


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    """(engine, plain session): `pl_types` is a UNIQUE_KEYS table in the
    engine and the same parquet rows in the plain session; `pl_src` is that
    parquet file as a view in both."""
    path = str(tmp_path_factory.mktemp("param_literals") / "types.parquet")
    spark.createDataFrame(_types_rows(), _TYPES_SCHEMA).coalesce(1).write.parquet(path)
    eng = Engine(spark)
    eng.create_table(spark.read.parquet(path), "pl_types", keys_type="UNIQUE_KEYS",
                     keys=["k"], sequence_col="seq")
    spark.read.parquet(path).createOrReplaceTempView("pl_src")
    plain = _without_rules(spark)
    plain.read.parquet(path).createOrReplaceTempView("pl_types")
    plain.read.parquet(path).createOrReplaceTempView("pl_src")
    return eng, plain


def test_second_statement_of_a_shape_compiles_nothing(spark):
    eng = Engine(spark)
    model = {k: k * 10 for k in range(500)}
    eng.create_table(
        spark.createDataFrame([(k, v, 1) for k, v in model.items()], "k INT, v BIGINT, seq INT"),
        "pl_kv", keys_type="UNIQUE_KEYS", keys=["k"], sequence_col="seq")

    def point(keys):
        return eng.sql(f"SELECT k, v FROM pl_kv WHERE k IN ({', '.join(map(str, keys))})").collect

    point([3, 17, 250])()
    n, rows = _compiled_by(spark, point([8, 99, 400]))
    assert n == 0
    assert sorted(map(tuple, rows)) == [(k, model[k]) for k in (8, 99, 400)]

    def update(delta, keys):
        for k in keys:
            model[k] += delta
        text = f"UPDATE pl_kv SET v = v + {delta} WHERE k IN ({', '.join(map(str, keys))})"
        return eng.sql(text).collect

    update(5, [1, 2, 3])()
    n, rows = _compiled_by(spark, update(9, [10, 20, 30]))
    assert n == 0
    assert rows[0][0] == 3
    assert sorted(map(tuple, eng.sql("SELECT k, v FROM pl_kv").collect())) == sorted(model.items())


# type -> (statement template, two literals that differ only in value)
_TYPE_CASES = {
    "int": ("SELECT k, i + {x} AS a FROM pl_types WHERE i > {x}", ("3", "-4")),
    "bigint": ("SELECT k, b - {x} AS a FROM pl_types WHERE b <> {x}",
               ("4500000000", "-9000000000")),
    "smallint": ("SELECT k, s + CAST({x} AS SMALLINT) AS a FROM pl_types "
                 "WHERE s >= CAST({x} AS SMALLINT)", ("70", "-210")),
    "tinyint": ("SELECT k, t * CAST({x} AS TINYINT) AS a FROM pl_types "
                "WHERE t < CAST({x} AS TINYINT)", ("2", "-3")),
    "double": ("SELECT k, d * {x} AS a, {x} AS c FROM pl_types WHERE d = {x} OR d < {x}",
               ("CAST('NaN' AS DOUBLE)", "-0.0D", "2.5D")),
    "float": ("SELECT k, f * CAST({x} AS FLOAT) AS a FROM pl_types WHERE f < CAST({x} AS FLOAT)",
              ("1.25", "-0.5")),
    "boolean": ("SELECT k, coalesce(z, {x}) AS a FROM pl_types WHERE coalesce(z, {x}) OR i > 4",
                ("true", "false")),
    "date": ("SELECT k, coalesce(dt, DATE {x}) AS a FROM pl_types WHERE dt >= DATE {x}",
             ("'2024-03-01'", "'1969-12-31'")),
    "timestamp": ("SELECT k, coalesce(ts, TIMESTAMP {x}) AS a FROM pl_types "
                  "WHERE ts < TIMESTAMP {x}", ("'2024-01-05 11:00:00.000021'", "'2025-01-01 00:00:00'")),
    "timestamp_ntz": ("SELECT k, coalesce(ntz, TIMESTAMP_NTZ {x}) AS a FROM pl_types "
                      "WHERE ntz > TIMESTAMP_NTZ {x}", ("'2024-01-03 00:00:00'", "'1999-01-01 12:30:00'")),
}


@pytest.mark.parametrize("kind", sorted(_TYPE_CASES))
def test_each_type_matches_the_session_without_the_rule(setup, spark, kind):
    eng, plain = setup
    template, literals = _TYPE_CASES[kind]
    first, *rest = [template.format(x=x) for x in literals]
    eng.sql(first).collect()
    for text in rest:
        n, _ = _compiled_by(spark, eng.sql(text).collect)
        assert n == 0, text
    for text in (first, *rest):
        got, want = _canon(eng.sql(text).collect()), _canon(plain.sql(text).collect())
        assert got == want, text
        assert want, text


_EXPLAINED = (
    "SELECT k, i + 3 AS a, ts < TIMESTAMP '2024-01-02 03:04:05' AS early, "
    "dt = DATE '2024-03-01' AS d0, d * 1.5 AS dd, ntz > TIMESTAMP_NTZ '2024-02-01 00:00:00' AS late "
    "FROM pl_src WHERE i > -2 AND f < CAST(0.5 AS FLOAT) AND z"
)


def test_explain_text_is_unchanged(setup):
    eng, plain = setup
    for mode in ("", "FORMATTED "):
        got = eng.sql(f"EXPLAIN {mode}{_EXPLAINED}").collect()[0][0]
        want = plain.sql(f"EXPLAIN {mode}{_EXPLAINED}").collect()[0][0]
        assert re.sub(r"#\d+", "#N", got) == re.sub(r"#\d+", "#N", want)
    # The initial adaptive plan predates the rule; the final plan has it.
    assert _final_plan(eng.sql(_EXPLAINED)) == _final_plan(plain.sql(_EXPLAINED))


@pytest.mark.parametrize("text", [
    "SELECT k, rand(7) AS r, randn(11) AS g FROM pl_src",
    "SELECT k, sum(i) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING) AS w, "
    "lag(i, 2, -1) OVER (ORDER BY k) AS l FROM pl_src",
])
def test_seeded_rand_and_literal_window_frame_are_unchanged(setup, text):
    eng, plain = setup
    assert _canon(eng.sql(text).collect()) == _canon(plain.sql(text).collect())


def test_self_join_cte_keeps_its_reused_exchange(setup):
    eng, plain = setup
    text = (
        "WITH a AS (SELECT i % 3 AS g, count(*) AS n, sum(b) AS s FROM pl_src "
        "WHERE i > -5 GROUP BY i % 3) "
        "SELECT x.g, x.n, x.s, y.n AS yn, y.s AS ys FROM a x JOIN a y ON x.g = y.g + 1"
    )
    got, want = eng.sql(text), plain.sql(text)
    assert _canon(got.collect()) == _canon(want.collect())
    assert "ReusedExchange" in _final_plan(want)
    assert "ReusedExchange" in _final_plan(got)
