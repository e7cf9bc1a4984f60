"""Unit tests for the Doris binary-arithmetic coercion pass
(plans/typed_arith.py) — pure text-level, no Spark session.

Reference semantics: fe/fe-core/.../nereids/util/TypeCoercionUtils.java
processBinaryArithmetic (:824) + per-op decimal result types in
nereids/trees/expressions/{Add,Multiply,Divide,Mod}.java. The pass's
output on whole statements is pinned by the `arith` field of
tests/data/rewrite_corpus.jsonl (tests/test_rewrite_corpus.py).
"""

import pytest

from doris_spark.plans import type_hints
from doris_spark.plans.typed_arith import arith_rewrite


@pytest.fixture(autouse=True)
def _hints():
    saved = dict(type_hints.COLUMN_TYPES)
    saved_c = set(type_hints._CONFLICT)
    type_hints.COLUMN_TYPES.clear()
    type_hints._CONFLICT.clear()
    type_hints.register_columns(
        [
            ("id", "int"),
            ("kbool", "boolean"),
            ("ktint", "tinyint(4)"),
            ("kint", "int(11)"),
            ("kbint", "bigint(20)"),
            ("klint", "largeint(40)"),
            ("kfloat", "float"),
            ("kdbl", "double"),
            ("kdcml", "decimalv2(9,3)"),
            ("kstr", "string"),
            ("kdt", "date"),
            ("kdtm", "datetime"),
            ("kd64", "decimalv3(10,5)"),
        ]
    )
    yield
    type_hints.COLUMN_TYPES.clear()
    type_hints.COLUMN_TYPES.update(saved)
    type_hints._CONFLICT.clear()
    type_hints._CONFLICT.update(saved_c)


def test_date_plus_int_is_packed_bigint():
    out = arith_rewrite("select kdt + ktint from t")
    assert "date_format(kdt, 'yyyyMMdd')" in out
    assert "+ CAST(ktint AS BIGINT)" in out


def test_datetime_packed_14_digits():
    out = arith_rewrite("select kdtm - kint from t")
    assert "yyyyMMddHHmmss" in out


def test_string_arith_is_double():
    out = arith_rewrite("select kstr + kint from t")
    assert "CAST(kstr AS DOUBLE)" in out and "CAST(kint AS DOUBLE)" in out


def test_fixed_point_promotion():
    assert "CAST(ktint AS SMALLINT) + CAST(1 AS SMALLINT)" in arith_rewrite(
        "select ktint + 1 from t"
    )
    # int + bigint -> bigint (no promotion past the common type's step)
    out = arith_rewrite("select kint + kbint from t")
    assert "CAST(kint AS BIGINT) + kbint" in out


def test_int_divide_is_double():
    out = arith_rewrite("select kint / ktint from t")
    assert "AS DOUBLE) / CAST(ktint AS DOUBLE)" in out


def test_float_arith_promotes_to_double():
    out = arith_rewrite("select kint * kfloat from t")
    assert "CAST(kint AS DOUBLE) * CAST(kfloat AS DOUBLE)" in out


def test_float_mod_float_stays_float():
    out = arith_rewrite("select kfloat % kfloat from t")
    assert "(kfloat % kfloat)" in out


def test_bitop_fractional_folds_to_bigint():
    out = arith_rewrite("select kdbl & kint from t")
    assert "CAST(kdbl AS BIGINT) & CAST(kint AS BIGINT)" in out


def test_bit_function_forms():
    out = arith_rewrite("select BITAND(kdt, ktint) from t")
    assert "&" in out and "yyyyMMdd" in out


def test_largeint_div_casts_storage():
    # LARGEINT columns are physically DOUBLE; DIV must see DECIMAL(38,0)
    out = arith_rewrite("select klint DIV ktint from t")
    assert "CAST(klint AS DECIMAL(38,0)) div" in out


def test_decimalv2_mul_result_27_9():
    out = arith_rewrite("select kdcml * kdcml from t")
    assert "DECIMAL(18,9)" in out and "AS DECIMAL(27,9))" in out


def test_decimalv3_divide_truncates():
    out = arith_rewrite("select kd64 / kint from t")
    # Divide.java: p = p1+s2+4 = 14, s = min(p, s1+s2+4) = 9; truncation
    assert "% 0.000000001" in out and "AS DECIMAL(14,9))" in out


def test_mysql_xor_precedence():
    # ^ binds tighter than * in Doris/MySQL (Spark's native ^ is looser):
    # kint * (ktint ^ kbint), emitted fully parenthesized
    out = arith_rewrite("select kint * ktint ^ kbint from t")
    assert "* (CAST(ktint AS BIGINT) ^ CAST(kbint AS BIGINT))" in out


def test_interval_arith_untouched():
    q = "select kdt + interval 1 day from t"
    assert arith_rewrite(q) == q


def test_unknown_leaf_untouched():
    q = "select mystery_col + 1 from t"
    assert arith_rewrite(q) == q


def test_lambda_var_untouched():
    q = "select transform(arr, x -> x + 1) from t"
    assert arith_rewrite(q) == q


def test_no_hints_is_noop():
    type_hints.COLUMN_TYPES.clear()
    q = "select kdt + ktint from t"
    assert arith_rewrite(q) == q


def test_whitespace_preserved_outside_rewrites():
    q = "select  id ,\n  kdt + ktint\nfrom   expr_test  order by id"
    out = arith_rewrite(q)
    assert out.startswith("select  id ,\n  ")
    assert out.endswith("\nfrom   expr_test  order by id")


def test_inner_args_rewritten_inside_unknown_function():
    out = arith_rewrite("select some_fn(kdt + ktint) from t")
    assert "some_fn((CAST(date_format(kdt, 'yyyyMMdd') AS BIGINT)" in out


def test_unary_minus_binds_tighter_than_xor():
    # Doris grammar (DorisParser.g4:1691) puts arithmeticUnary above the
    # HAT alternative; golden correctness_p0/test_bit_function pins
    # -2^127 = (-2) XOR 127 = -127. The rewrite must keep (-a) ^ b.
    out = arith_rewrite("select - ktint ^ kbint from t")
    assert "(- " in out
    # the unary result is the left operand of ^, never wraps the whole ^
    xor_pos = out.index("^")
    assert out.index("(- ") < xor_pos
