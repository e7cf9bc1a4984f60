"""Doris's type-dependent results through Engine.sql, pinned by value and
by schema.

- `avg` over DECIMAL(p, s) with s < 4 is a DECIMAL(38, 4) whose last digit
  is truncated toward zero (Doris `Avg`: int128 division of the scaled sum
  by the count). Other scales, INT and DOUBLE inputs, and a windowed
  `avg ... OVER` keep Spark's types.
- Two-argument `date_add`/`date_sub` return a DATE for a DATE input and a
  DATETIME (TIMESTAMP) for a TIMESTAMP or a datetime string (Doris
  `DateAdd` signature).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal as D

import pytest

_ROWS = """
 (1, -1, -1.00, -1.000, -1.00000, -1, -1.0D, DATE'2024-01-31', TIMESTAMP'2024-01-31 10:20:30', '2024-01-31 10:20:30'),
 (1, -1, -1.00, -1.000, -1.00000, -1, -1.0D, DATE'2024-02-28', TIMESTAMP'2024-02-28 23:59:59', '2024-02-28 23:59:59'),
 (1, -2, -2.00, -2.000, -2.00000, -2, -2.0D, DATE'2024-12-31', TIMESTAMP'2024-12-31 00:00:00', '2024-12-31 00:00:00'),
 (2, 1, 1.00, 1.001, 1.00001, 1, 1.0D, NULL, NULL, NULL),
 (2, 1, 1.00, 1.001, 1.00001, 1, 1.0D, DATE'2023-03-01', TIMESTAMP'2023-03-01 12:00:00', '2023-03-01 12:00:00'),
 (2, 0, 0.00, 0.000, 0.00000, 0, 0.0D, DATE'2023-03-01', TIMESTAMP'2023-03-01 12:00:00', '2023-03-01 12:00:00'),
 (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
 (3, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
"""

_VIEW = (
    "SELECT k, CAST(v0 AS DECIMAL(10,0)) AS d0, CAST(v2 AS DECIMAL(10,2)) AS d2, "
    "CAST(v3 AS DECIMAL(15,3)) AS d3, CAST(v5 AS DECIMAL(12,5)) AS d5, "
    "CAST(vi AS INT) AS i, f, dt, ts, s "
    f"FROM VALUES {_ROWS} AS t(k, v0, v2, v3, v5, vi, f, dt, ts, s)"
)

_DEC = "struct<k:int,a0:decimal(38,4),a2:decimal(38,4),a3:decimal(38,4),a5:decimal(16,9)>"

CASES = {
    # -4/3 truncates to -1.3333 (floor would give -1.3334), 2/3 to 0.6666
    # (half-up would give 0.6667); scale 5 keeps Spark's decimal(16,9).
    "avg_scales": (
        "SELECT k, avg(d0) AS a0, avg(d2) AS a2, avg(d3) AS a3, avg(d5) AS a5 "
        "FROM pin_t GROUP BY k ORDER BY k",
        _DEC,
        [
            (1, D("-1.3333"), D("-1.3333"), D("-1.3333"), D("-1.333333333")),
            (2, D("0.6666"), D("0.6666"), D("0.6673"), D("0.666673333")),
            (3, None, None, None, None),
        ],
    ),
    "avg_empty_group": (
        "SELECT avg(d2) AS a FROM pin_t WHERE k > 100",
        "struct<a:decimal(38,4)>",
        [(None,)],
    ),
    "avg_distinct": (
        "SELECT k, avg(DISTINCT d2) AS a FROM pin_t GROUP BY k ORDER BY k",
        "struct<k:int,a:decimal(38,4)>",
        [(1, D("-1.5000")), (2, D("0.5000")), (3, None)],
    ),
    "avg_having": (
        "SELECT k, avg(d2) AS a FROM pin_t GROUP BY k HAVING avg(d2) < 1 ORDER BY k",
        "struct<k:int,a:decimal(38,4)>",
        [(1, D("-1.3333")), (2, D("0.6666"))],
    ),
    "avg_order_by": (
        "SELECT k, avg(d2) AS a FROM pin_t GROUP BY k HAVING avg(d2) > -2 "
        "ORDER BY avg(d2) DESC",
        "struct<k:int,a:decimal(38,4)>",
        [(2, D("0.6666")), (1, D("-1.3333"))],
    ),
    "avg_cte_arithmetic": (
        "WITH c AS (SELECT k, avg(d2) AS a FROM pin_t GROUP BY k) "
        "SELECT k, a * 2 AS a2, a + 1 AS a1, a FROM c ORDER BY k",
        "struct<k:int,a2:decimal(38,4),a1:decimal(38,4),a:decimal(38,4)>",
        [
            (1, D("-2.6666"), D("-0.3333"), D("-1.3333")),
            (2, D("1.3332"), D("1.6666"), D("0.6666")),
            (3, None, None, None),
        ],
    ),
    "avg_in_expressions": (
        "SELECT k, round(avg(d2), 1) AS r, avg(d2) > 0 AS p, "
        "coalesce(avg(d2), 0) AS c FROM pin_t GROUP BY k ORDER BY k",
        "struct<k:int,r:decimal(36,1),p:boolean,c:decimal(38,4)>",
        [
            (1, D("-1.3"), False, D("-1.3333")),
            (2, D("0.7"), True, D("0.6666")),
            (3, None, None, D("0.0000")),
        ],
    ),
    "avg_subquery_and_rollup": (
        "SELECT k, avg(d2) AS a, (SELECT max(d2) FROM pin_t) AS m FROM pin_t "
        "GROUP BY ROLLUP(k) ORDER BY k",
        "struct<k:int,a:decimal(38,4),m:decimal(10,2)>",
        [
            (None, D("-0.3333"), D("1.00")),
            (1, D("-1.3333"), D("1.00")),
            (2, D("0.6666"), D("1.00")),
            (3, None, D("1.00")),
        ],
    ),
    "avg_windowed_keeps_spark_type": (
        "SELECT k, avg(d2) OVER (PARTITION BY k) AS w FROM pin_t "
        "WHERE k < 3 ORDER BY k, w",
        "struct<k:int,w:decimal(14,6)>",
        [(1, D("-1.333333"))] * 3 + [(2, D("0.666667"))] * 4,
    ),
    "avg_int_and_double": (
        "SELECT k, avg(i) AS ai, avg(f) AS af FROM pin_t GROUP BY k ORDER BY k",
        "struct<k:int,ai:double,af:double>",
        [
            (1, -4 / 3, -4 / 3),
            (2, 2 / 3, 2 / 3),
            (3, None, None),
        ],
    ),
    "date_add_date": (
        "SELECT date_add(dt, 1) AS a, date_sub(dt, 2) AS b FROM pin_t "
        "WHERE k = 1 ORDER BY a",
        "struct<a:date,b:date>",
        [
            (dt.date(2024, 2, 1), dt.date(2024, 1, 29)),
            (dt.date(2024, 2, 29), dt.date(2024, 2, 26)),
            (dt.date(2025, 1, 1), dt.date(2024, 12, 29)),
        ],
    ),
    "date_add_timestamp": (
        "SELECT date_add(ts, 1) AS a, date_sub(ts, 2) AS b FROM pin_t "
        "WHERE k = 1 ORDER BY a",
        "struct<a:timestamp,b:timestamp>",
        [
            (dt.datetime(2024, 2, 1, 10, 20, 30), dt.datetime(2024, 1, 29, 10, 20, 30)),
            (dt.datetime(2024, 2, 29, 23, 59, 59), dt.datetime(2024, 2, 26, 23, 59, 59)),
            (dt.datetime(2025, 1, 1), dt.datetime(2024, 12, 29)),
        ],
    ),
    "date_add_string": (
        "SELECT date_add(s, 1) AS a, date_sub(s, 2) AS b FROM pin_t "
        "WHERE k = 1 ORDER BY a",
        "struct<a:timestamp,b:timestamp>",
        [
            (dt.datetime(2024, 2, 1, 10, 20, 30), dt.datetime(2024, 1, 29, 10, 20, 30)),
            (dt.datetime(2024, 2, 29, 23, 59, 59), dt.datetime(2024, 2, 26, 23, 59, 59)),
            (dt.datetime(2025, 1, 1), dt.datetime(2024, 12, 29)),
        ],
    ),
    "date_add_then_interval": (
        "SELECT date_add(dt, 1) + INTERVAL 1 DAY AS a FROM pin_t WHERE k = 1 ORDER BY a",
        "struct<a:date>",
        [(dt.date(2024, 2, 2),), (dt.date(2024, 3, 1),), (dt.date(2025, 1, 2),)],
    ),
    "date_add_in_expressions": (
        "SELECT CAST(date_add(dt, 1) AS STRING) AS a, if(k = 1, date_add(dt, 1), dt) AS b, "
        "datediff(date_add(dt, 1), dt) AS c FROM pin_t WHERE k = 1 ORDER BY a",
        "struct<a:string,b:date,c:int>",
        [
            ("2024-02-01", dt.date(2024, 2, 1), 1),
            ("2024-02-29", dt.date(2024, 2, 29), 1),
            ("2025-01-01", dt.date(2025, 1, 1), 1),
        ],
    ),
    "date_add_compared_with_string": (
        "SELECT count(*) AS n FROM pin_t WHERE date_add(dt, 1) = '2024-02-01'",
        "struct<n:bigint>",
        [(1,)],
    ),
}


@pytest.fixture(scope="module")
def eng(spark):
    from doris_spark.engine import Engine

    spark.sql(_VIEW).createOrReplaceTempView("pin_t")
    return Engine(spark)


@pytest.mark.parametrize("name", sorted(CASES))
def test_typed_result(eng, name):
    text, schema, rows = CASES[name]
    df = eng.sql(text)
    assert df.schema.simpleString() == schema
    assert [tuple(r) for r in df.collect()] == rows
