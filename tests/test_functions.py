"""Unit checks for the Doris function registry: every registered name must
be callable through spark.sql, and a sample of semantics is pinned."""

from __future__ import annotations

import pytest

from doris_spark.functions import DORIS_SQL_FUNCTIONS

SMOKE_ARGS = {
    "TIMESTAMP": "TIMESTAMP '1997-06-15 10:30:45'",
    "TIMESTAMP_NTZ": "TIMESTAMP_NTZ '1997-06-15 10:30:45'",
    "DATE": "DATE '1997-06-15'",
    "INT": "3",
    "BIGINT": "7",
    "DOUBLE": "2.5d",
    "STRING": "'ab'",
    "ARRAY<STRING>": "array('a', 'b')",
    "ARRAY<DOUBLE>": "array(1.0d, 2.0d)",
    "ARRAY<BOOLEAN>": "array(true, false)",
    "STRUCT<X: DOUBLE, Y: DOUBLE>": "named_struct('x', 1.0d, 'y', 2.0d)",
    "DECIMAL(24,6)": "3725.5",
}


# Functions whose generic smoke args would be semantically invalid.
SMOKE_OVERRIDES = {
    "str_to_date": ["'1997-06-15'", "'yyyy-MM-dd'"],
    "convert_tz": [
        "TIMESTAMP_NTZ '1997-06-15 10:30:45'",
        "'UTC'",
        "'Asia/Tokyo'",
    ],
    # generic idx=3 exceeds the pattern's group count (ANSI error)
    "regexp_extract_or_null": ["'ab'", "'(a)(b)'", "1"],
}

# Names registry_ext defines with optional period/origin (or mode)
# parameters, smoke-called with their one required TIMESTAMP argument.
ONE_TIMESTAMP_ARG = (
    "day_ceil", "day_floor", "hour_ceil", "hour_floor", "minute_ceil",
    "minute_floor", "month_ceil", "month_floor", "second_ceil",
    "second_floor", "week_floor", "year_ceil", "year_floor", "yearweek",
)
SMOKE_OVERRIDES.update({n: [SMOKE_ARGS["TIMESTAMP"]] for n in ONE_TIMESTAMP_ARG})


@pytest.mark.parametrize("name", sorted({*DORIS_SQL_FUNCTIONS, *ONE_TIMESTAMP_ARG}))
def test_function_callable(name, spark):
    if name in SMOKE_OVERRIDES:
        args = SMOKE_OVERRIDES[name]
    else:
        params, _ = DORIS_SQL_FUNCTIONS[name]
        # split params on commas not nested inside <...> generics or
        # (...) type arguments (DECIMAL(p,s))
        parts, depth, cur = [], 0, ""
        for ch in params:
            if ch in "<(":
                depth += 1
            elif ch in ">)":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                cur += ch
        if cur.strip():
            parts.append(cur)
        args = []
        for p in [p.strip() for p in parts if p.strip()]:
            typ = p.split(None, 1)[1].strip().upper()
            args.append(SMOKE_ARGS[typ])
    spark.sql(f"SELECT {name}({', '.join(args)}) AS v").collect()


PINNED = [
    ("years_add(TIMESTAMP '1996-02-29 00:00:00', 1)", "1997-02-28 00:00:00"),
    ("sec_to_time(3725)", "01:02:05"),
    ("round_bankers(2.5d, 0)", 2.0),
    ("round_bankers(3.5d, 0)", 4.0),
    ("truncate(-2.789d, 2)", -2.78),
    ("strcmp('b', 'a')", 1),
    ("field('c', array('a','b','c'))", 3),
    ("field('z', array('a','b','c'))", 0),
    ("hamming_distance('karolin', 'kathrin')", 3),
    ("bitand(6, 3)", 2),
    ("bit_test(5, 2)", 1),
    ("ipv4_num_to_string(3232235777)", "192.168.1.1"),
    ("ipv4_string_to_num('192.168.1.1')", 3232235777),
    ("is_ipv4_string('256.1.1.1')", False),
    ("array_cum_sum(array(1.0d, 2.0d, 3.0d))", [1.0, 3.0, 6.0]),
    ("array_difference(array(1.0d, 4.0d, 9.0d))", [0.0, 3.0, 5.0]),
    ("l2_distance(array(0.0d, 0.0d), array(3.0d, 4.0d))", 5.0),
    ("jsonb_extract_bigint('{\"k\": 87}', '$.k')", 87),
    ("to_days(DATE '1970-01-01')", 719528),
    ("split_by_string('a.b.c', '.')", ["a", "b", "c"]),
    # round-2 stragglers
    ("multi_search_all_positions('hello world', array('world', 'xyz', 'h'))", [7, 0, 1]),
    ("multi_match_any('hello', array('^x', 'l+o$'))", True),
    ("multi_match_any('hello', array('^x', '^y'))", False),
    ("array_enumerate_uniq(array('a','b','a','a','b'))", [1, 1, 2, 3, 2]),
    ("to_iso8601(TIMESTAMP '2023-10-10 10:10:10.5')", "2023-10-10T10:10:10.500000"),
    ("size(bitmap_empty())", 0),
    ("size(bitmap_hash('ab'))", 1),
    ("size(bitmap_hash64('ab'))", 1),
    ('json_exists_path(\'{"a": {"b": 5}}\', \'$.a.b\')', True),
    ('json_exists_path(\'{"a": {"b": 5}}\', \'$.a.c\')', False),
    # unrestricted damerau (transposition then further edits: CA->AC->ABC)
    ("damerau_levenshtein('CA', 'ABC')", 2),
    ("damerau_levenshtein('ab', 'ba')", 1),
    ("damerau_levenshtein('abcdef', 'abdcef')", 1),
    ("damerau_levenshtein('', 'abc')", 3),
    ("damerau_levenshtein('kitten', 'sitting')", 3),
    ("array_sortby(array('b', 'a', 'c'), array(2.0d, 3.0d, 1.0d))", ["c", "b", "a"]),
]


@pytest.mark.parametrize("expr,expected", PINNED)
def test_pinned_semantics(expr, expected, spark):
    got = spark.sql(f"SELECT {expr} AS v").collect()[0][0]
    if isinstance(expected, float):
        assert abs(got - expected) < 1e-9, f"{expr}: {got} != {expected}"
    elif isinstance(expected, str) and ":" in expected and "-" in expected:
        assert str(got) == expected, f"{expr}: {got} != {expected}"
    else:
        assert got == expected, f"{expr}: {got} != {expected}"


def test_normal_cdf_accuracy(spark):
    import math

    for z in (-2.5, -1.0, 0.0, 0.5, 1.96, 3.0):
        got = spark.sql(f"SELECT normal_cdf(0.0d, 1.0d, {z}d) AS v").collect()[0][0]
        want = 0.5 * (1 + math.erf(z / math.sqrt(2)))
        assert abs(got - want) < 2e-7, f"z={z}: {got} vs {want}"


# ---------------------------------------------------------- json mutation

def test_json_mutate_semantics():
    """Pure-python checks of the jsonb-mutation kernel (MySQL-compatible
    edge semantics; the Spark-side path is covered by the json_mutation
    oracle query)."""
    from doris_spark.functions.json_mut import _mutate

    doc = '{"a": 1, "b": {"c": [10, 20]}}'
    # nested set / replace / insert
    assert _mutate(doc, "$.b.c[1]", "99", "set") == '{"a":1,"b":{"c":[10,99]}}'
    assert _mutate(doc, "$.b.c[5]", "99", "insert") == '{"a":1,"b":{"c":[10,20,99]}}'
    assert _mutate(doc, "$.b.c[5]", "99", "replace") == '{"a":1,"b":{"c":[10,20]}}'
    assert _mutate(doc, "$.b.d", "true", "insert") == '{"a":1,"b":{"c":[10,20],"d":true}}'
    # parent missing -> unchanged (no implicit intermediates)
    assert _mutate(doc, "$.x.y", "1", "set") == '{"a":1,"b":{"c":[10,20]}}'
    # remove
    assert _mutate(doc, "$.a", None, "remove") == '{"b":{"c":[10,20]}}'
    assert _mutate(doc, "$.b.c[0]", None, "remove") == '{"a":1,"b":{"c":[20]}}'
    # string value and insert-no-overwrite
    assert _mutate('{"k": 3}', "$.k", '"x"', "insert") == '{"k":3}'
    assert _mutate('{"k": 3}', "$.k", '"x"', "replace") == '{"k":"x"}'
    # error -> NULL convention
    assert _mutate("not json", "$.a", "1", "set") is None
    assert _mutate('{"a":1}', "a.b", "1", "set") is None
    assert _mutate('{"a":1}', "$", "1", "set") is None
    assert _mutate(None, "$.a", "1", "set") is None


# ---------------------------------------------------------- python UDTF

def test_udtf_sentences_lateral(spark):
    """Python UDTF surface (SURVEY §2.9): registered table function used
    both standalone and in a LATERAL join over a table."""
    rows = spark.sql(
        "SELECT * FROM sentences('One two. Three! Four five six?')"
    ).collect()
    assert [(r.sentence_idx, r.n_tokens) for r in rows] == [(0, 2), (1, 1), (2, 3)]

    spark.createDataFrame(
        [(1, "Hello there. Bye."), (2, "Single sentence")], "id INT, txt STRING"
    ).createOrReplaceTempView("udtf_docs")
    out = spark.sql(
        """
        SELECT d.id, s.sentence_idx, s.sentence
        FROM udtf_docs d, LATERAL sentences(d.txt) s
        ORDER BY d.id, s.sentence_idx
        """
    ).collect()
    assert [(r.id, r.sentence_idx) for r in out] == [(1, 0), (1, 1), (2, 0)]


def test_udtf_numbers_gap(spark):
    got = [r.n for r in spark.sql("SELECT * FROM numbers_gap(0, 10, 3)").collect()]
    assert got == [0, 3, 6, 9]
    got_desc = [r.n for r in spark.sql("SELECT * FROM numbers_gap(5, 0, -2)").collect()]
    assert got_desc == [5, 3, 1]
    assert spark.sql("SELECT * FROM numbers_gap(0, 5, 0)").count() == 0


def test_json_search_semantics():
    from doris_spark.functions.json_mut import _flatten, _search, _sort_keys

    doc = '{"a": "abc", "b": {"c": "abd"}, "d": ["abc", 5]}'
    assert _search(doc, "one", "abc") == '"$.a"'
    assert _search(doc, "all", "abc") == '["$.a","$.d[0]"]'
    assert _search(doc, "all", "ab_") == '["$.a","$.b.c","$.d[0]"]'
    assert _search(doc, "all", "ab%") == '["$.a","$.b.c","$.d[0]"]'
    assert _search(doc, "one", "zzz") is None
    assert _search(doc, "bogus", "abc") is None
    assert _search("not json", "one", "a") is None
    # numbers are not searched (MySQL: string values only)
    assert _search('{"x": 5}', "one", "5") is None

    assert _sort_keys('{"b": 1, "a": {"d": 2, "c": 3}}') == '{"a":{"c":3,"d":2},"b":1}'
    assert _sort_keys("nope") is None

    assert _flatten('{"a": {"b": 1}, "c": [2], "e": {}}') == '{"a.b":1,"c":[2],"e":{}}'
    assert _flatten('{"a": {"b": {"c": 9}}}') == '{"a.b.c":9}'
    assert _flatten("[1,2]") == "[1,2]"


def test_json_search_spark_path(spark):
    got = spark.sql(
        'SELECT json_search(\'{"k": "hit", "l": "miss"}\', \'one\', \'hit\') AS v'
    ).collect()[0][0]
    assert got == '"$.k"'
    got2 = spark.sql(
        'SELECT sort_json_object_keys(\'{"b":1,"a":2}\') AS v'
    ).collect()[0][0]
    assert got2 == '{"a":1,"b":2}'.replace('"a":1,"b":2', '"a":2,"b":1')
    got3 = spark.sql(
        'SELECT json_object_flatten(\'{"a":{"b":1}}\') AS v'
    ).collect()[0][0]
    assert got3 == '{"a.b":1}'


def test_regexp_variants(spark):
    rows = spark.sql(
        """
        SELECT regexp_replace_one('a1b2c3', '[0-9]', 'X')      AS one,
               regexp_replace('a1b2c3', '[0-9]', 'X')          AS al,
               regexp_replace_one('aaa', 'a$', 'X')            AS anchored,
               regexp_extract_or_null('abc', '([0-9]+)', 1)    AS no_match,
               regexp_extract_or_null('x42', '([0-9]+)', 1)    AS hit
        """
    ).collect()[0]
    assert rows["one"] == "aXb2c3"
    assert rows["al"] == "aXbXcX"
    assert rows["anchored"] == "aaX"   # first match of 'a$' is the LAST char
    assert rows["no_match"] is None
    assert rows["hit"] == "42"


# Doris split_part through Engine.sql: index 0, an empty or absent
# separator, an index past the last part and NULL inputs give NULL; a
# negative index counts parts from the right; an empty part stays ''.
SPLIT_PART = [
    ("second", "'a,b,c'", "','", "2", "b"),
    ("empty_part", "'a,,c'", "','", "2", ""),
    ("last", "'a::b::c'", "'::'", "3", "c"),
    ("index_0", "'a,b,c'", "','", "0", None),
    ("empty_separator", "'a,b,c'", "''", "1", None),
    ("absent_separator", "'a,b,c'", "'|'", "1", None),
    ("past_last", "'a,b,c'", "','", "4", None),
    ("null_string", "NULL", "','", "1", None),
    ("null_separator", "'a,b'", "NULL", "1", None),
    ("null_index", "'a,b'", "','", "NULL", None),
    ("negative", "'a,b,c'", "','", "-1", "c"),
    ("negative_first", "'a,b,c'", "','", "-3", "a"),
    ("negative_past_first", "'a,b,c'", "','", "-4", None),
    ("column_index", "'a,b,c'", "','", "i", "b"),
]


@pytest.fixture(scope="module")
def engine(spark):
    from doris_spark.engine import Engine

    return Engine(spark)


@pytest.mark.parametrize(
    "s,sep,index,want", [c[1:] for c in SPLIT_PART], ids=[c[0] for c in SPLIT_PART]
)
def test_split_part_doris_semantics(engine, s, sep, index, want):
    sql = (
        f"SELECT split_part(s, {sep}, {index}) AS r "
        f"FROM VALUES (CAST({s} AS STRING), 2) AS v(s, i)"
    )
    assert engine.sql(sql).collect()[0].r == want
