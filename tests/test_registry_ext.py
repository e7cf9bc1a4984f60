"""Pinned-value matrix for the round-2 scalar registry extension.

Every (call, expected) pair mirrors Doris semantics from the reference
impl files cited in doris_spark/functions/registry_ext.py. Dates and
timestamps compare on a string prefix so sub-second formatting noise
does not matter; expected=None means "must evaluate without error".
"""

from __future__ import annotations

import datetime

import pytest

CASES = [
    ("adddate(DATE '2024-01-30', 3)", "2024-02-02"),
    ("add_time(TIMESTAMP '2024-01-01 10:00:00', '01:30:05')", "2024-01-01 11:30:05"),
    ("century(TIMESTAMP '2001-01-01')", 21),
    ("dow(TIMESTAMP '2024-01-07')", 1),
    ("doy(TIMESTAMP '2024-02-01')", 32),
    ("year_of_week(TIMESTAMP '2021-01-01')", 2020),
    ("week(TIMESTAMP '2024-01-01')", 0),
    ("week(TIMESTAMP '2024-01-07')", 1),
    ("week(TIMESTAMP '2024-01-07', 3)", 1),
    ("week(TIMESTAMP '2024-01-01', 2)", 53),
    ("makedate(2024, 32)", "2024-02-01"),
    ("maketime(9, 5, 3)", "09:05:03"),
    ("microsecond(TIMESTAMP '2024-01-01 00:00:00.123456')", 123456),
    ("from_second(86400)", "1970-01-02 00:00:00"),
    ("second_timestamp(TIMESTAMP '1970-01-02 00:00:00')", 86400),
    ("microseconds_add(TIMESTAMP '2024-01-01 00:00:00', 1500000)", "2024-01-01 00:00:01.5"),
    ("milliseconds_diff(TIMESTAMP '2024-01-01 00:00:01', TIMESTAMP '2024-01-01 00:00:00')", 1000),
    ("quarters_add(TIMESTAMP '2024-01-15 00:00:00', 2)", "2024-07-15"),
    ("quarter_ceil(TIMESTAMP '2024-02-01 00:00:00')", "2024-04-01"),
    ("period_add(202401, 13)", 202502),
    ("period_diff(202502, 202401)", 13),
    ("previous_day(TIMESTAMP '2024-01-10', 'MO')", "2024-01-08"),
    ("timediff(TIMESTAMP '2024-01-01 01:00:00', TIMESTAMP '2024-01-01 00:58:30')", "00:01:30"),
    ("timediff(TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-02 02:00:00')", "-26:00:00"),
    ("to_seconds(TIMESTAMP '1970-01-01 00:00:01')", 62167219201),
    ("day_hour(TIMESTAMP '2024-01-05 13:00:00')", 513),
    ("year_month(TIMESTAMP '2024-03-05')", 202403),
    ("dceil(1.2)", 2.0),
    ("dround(2.5)", 3.0),
    ("even(1.2)", 2.0),
    ("even(-1.2)", -2.0),
    ("gcd(12, 18)", 6),
    ("gcd(0, 5)", 5),
    ("lcm(4, 6)", 12),
    ("isinf(CAST('Infinity' AS DOUBLE))", True),
    ("isinf(1.0)", False),
    ("signbit(-0.5)", True),
    ("xor(true, false)", True),
    ("mid('hello', 2)", "ello"),
    ("mid('hello', 2, 2)", "el"),
    ("insert('Quadratic', 3, 4, 'What')", "QuWhattic"),
    ("count_substrings('abcabcabc', 'ab')", 3),
    ("export_set(5, 'Y', 'N', ',', 4)", "Y,N,Y,N"),
    ("make_set(5, 'a', 'b', 'c')", "a,c"),
    ("replace_empty('', 'x', 'y')", "y"),
    ("sub_replace('this is origin str', 'NEW', 1)", "tNEW is origin str"),
    ("sub_replace('abcdef', 'X', 1, 3)", "aXef"),
    ("md5sum('ab', 'c')", None),
    ("crc32_internal('abc')", 891568578),
    ("password('pw')", None),
    ("digital_masking(13812345678)", "138****5678"),
    ("from_base64('aGVsbG8=')", "hello"),
    ("to_base64('hello')", "aGVsbG8="),
    ("to_hex('ab')", "6162"),
    ("strip_null_value('{\"a\": 1, \"b\": null}')", '{"a": 1, "b": null}'),
    ("array_apply(array(1.0, 2.0, 3.0), '>=', 2.0)", [2.0, 3.0]),
    ("array_contains_all(array('a','b','c'), array('c','a'))", True),
    ("array_cross_product(array(1.0,0.0,0.0), array(0.0,1.0,0.0))", [0.0, 0.0, 1.0]),
    ("array_filter(array('a','b','c'), array(true,false,true))", ["a", "c"]),
    ("array_exists(array(false, true))", True),
    ("array_first_index(array(false, true, true))", 2),
    ("array_last_index(array(true, true, false))", 2),
    ("array_flatten(array(array('a'), array('b')))", ["a", "b"]),
    ("array_split(array('a','b','c','d'), array(false,true,false,true))", [["a"], ["b", "c"], ["d"]]),
    ("array_reverse_split(array('a','b','c','d'), array(false,true,false,false))", [["a", "b"], ["c", "d"]]),
    ("array_with_constant(3, 'x')", ["x", "x", "x"]),
    ("countequal(array('a','b','a'), 'a')", 2),
    ("bitmap_and(array(1,2,3), array(2,3,4))", [2, 3]),
    ("bitmap_xor(array(1,2), array(2,3))", [1, 3]),
    ("bitmap_not(array(1,2,3), array(2))", [1, 3]),
    ("bitmap_contains(array(1,2), 2)", True),
    ("bitmap_has_all(array(1,2,3), array(1,3))", True),
    ("bitmap_has_any(array(1,2), array(5))", False),
    ("bitmap_min(array(3,1,2))", 1),
    ("bitmap_subset_in_range(array(1,2,3,4), 2, 4)", [2, 3]),
    ("bitmap_subset_limit(array(1,2,3,4), 2, 2)", [2, 3]),
    ("sub_bitmap(array(1,2,3,4), 1, 2)", [2, 3]),
    ("sub_bitmap(array(1,2,3,4), -2, 2)", [3, 4]),
    ("bitmap_to_string(array(1,2,3))", "1,2,3"),
    ("bitmap_from_string('3,1,2,2')", [1, 2, 3]),
    ("bitmap_from_base64(bitmap_to_base64(array(1,2,3)))", [1, 2, 3]),
    ("to_bitmap(5)", [5]),
    ("to_bitmap(-1)", None),
    ("size(hll_empty())", 1024),
    ("hll_cardinality(hll_empty())", 0),
    ("hll_cardinality(hll_hash('a'))", 1),
    ("hll_cardinality(hll_union_scalar(hll_hash('a'), hll_hash('b')))", 2),
    ("hll_from_base64(hll_to_base64(hll_hash('a'))) = hll_hash('a')", True),
    ("quantile_percent(array(1.0, 2.0, 3.0, 4.0), 0.5)", 2.5),
    ("quantile_percent(to_quantile_state(7.0), 0.9)", 7.0),
    ("is_ipv4('1.2.3.4')", True),
    ("is_ipv4('1.2.3.256')", False),
    ("ipv4_string_to_num_or_default('bad')", 0),
    ("to_ipv4_or_default('bad')", "0.0.0.0"),
    ("ipv4_cidr_to_range('192.168.5.130/24').min", "192.168.5.0"),
    ("ipv4_cidr_to_range('192.168.5.130/24').max", "192.168.5.255"),
    ("ipv4_to_ipv6('1.2.3.4')", "::ffff:1.2.3.4"),
    ("json_extract('{\"a\": \"x\"}', '$.a')", '"x"'),
    ("json_extract_no_quotes('{\"a\": \"x\"}', '$.a')", "x"),
    ("json_extract_int('{\"a\": 3}', '$.a')", 3),
    ("json_extract_isnull('{\"a\": null}', '$.a')", True),
    ("json_quote('he\"llo')", '"he\\"llo"'),
    ("json_parse('{\"a\":  1}')", '{"a":1}'),
    ("json_parse_error_to_null('{bad')", None),
    ("json_parse_error_to_value('{bad', '{}')", "{}"),
    ("json_keys('{\"a\":1,\"b\":2}')", ["a", "b"]),
    ("json_length('[1,2,3]')", 3),
    ("json_length('{\"a\":1}')", 1),
    ("json_length('3')", 1),
    ("json_type('{\"a\":1}')", "object"),
    ("json_type('{\"a\":1}', '$.a')", "int"),
    ("json_type('\"s\"')", "string"),
    ("json_type('1.5')", "double"),
    ("jsonb_valid('{\"a\":1}')", True),
    ("jsonb_valid('{bad')", False),
    ("json_array('1', 'abc', NULL, 'true')", '[1,"abc",null,true]'),
    ("json_array()", "[]"),
    ("json_array_ignore_null('1', NULL, 'x')", '[1,"x"]'),
    ("json_object('k1', '1', 'k2', 'abc')", '{"k1":1,"k2":"abc"}'),
    ("json_object()", "{}"),
    ("nullable('x')", "x"),
    ("parse_data_size('2.3MB')", 2411724),
    ("format_round(12345.678, 2)", "12,345.68"),
    ("format('2', 12345.678)", "12,345.68"),
    ("get_format('DATE', 'USA')", "%m.%d.%Y"),
    ("time_format(TIMESTAMP '2024-01-01 13:05:09', '%H:%i:%s')", "13:05:09"),
]


@pytest.mark.parametrize("call,expected", CASES, ids=[c[0][:60] for c in CASES])
def test_registry_ext_pinned(spark, call, expected):
    got = spark.sql("SELECT " + call).collect()[0][0]
    if expected is None:
        return
    if isinstance(got, (datetime.date, datetime.datetime)):
        got = str(got)
        if len(str(expected)) < len(got):
            got = got[: len(str(expected))]
    if isinstance(got, float) and isinstance(expected, float):
        assert abs(got - expected) < 1e-9, (call, got, expected)
    elif isinstance(expected, int) and not isinstance(expected, bool):
        assert int(got) == expected, (call, got, expected)
    else:
        assert got == expected, (call, got, expected)


_FLOOR_CEIL_UNITS = {"second": 1_000_000, "minute": 60_000_000, "hour": 3_600_000_000,
                     "day": 86_400_000_000, "week": 604_800_000_000}
# the year-1 origin, DST gaps and folds, leap days, the Gregorian switch,
# pre-standard (LMT) offsets and sub-second values
_FLOOR_CEIL_TIMES = [
    "0001-01-01 00:00:00", "0001-01-01 18:22:19.111529", "0001-01-03 07:00:00.5",
    "1582-10-04 23:59:59.999999", "1582-10-15 00:00:00", "1900-01-01 00:05:43",
    "1969-12-31 23:59:59.999999", "1970-01-01 00:00:00", "2020-02-29 13:17:11.123456",
    "2024-03-10 02:30:00", "2024-03-31 02:30:00.25", "2024-10-27 02:30:00",
    "2024-11-03 01:30:00", "2024-12-31 23:59:59.999999", "9999-12-30 12:00:00",
]
_FLOOR_CEIL_ORIGINS = ["0001-01-01 00:00:00", "1970-01-01 00:00:00",
                       "2020-02-29 13:17:11.123456", "2099-07-04 05:06:07.000008"]


@pytest.mark.parametrize(
    "zone", ["UTC", "Asia/Shanghai", "America/Los_Angeles", "Europe/Berlin"])
def test_time_floor_ceil_are_the_aligned_neighbours(spark, zone):
    """{second,...,week}_{floor,ceil}(t, p, origin) are the origin-aligned
    points at or below / at or above t, less than one period p * unit away,
    for explicit origins and for the default origin 0001-01-01, under four
    session zones. Values are compared as unix micros, so results before
    year 1 are checked too."""
    fns = [f"{u}_{side}" for u in _FLOOR_CEIL_UNITS for side in ("floor", "ceil")]
    times = ", ".join(f"('{t}')" for t in _FLOOR_CEIL_TIMES)
    origins = ", ".join(f"('{o}')" for o in _FLOOR_CEIL_ORIGINS)
    calls = ", ".join(
        f"unix_micros({f}(t, p, o)) AS {f}, unix_micros({f}(t, p)) AS {f}_d" for f in fns)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        rows = spark.sql(f"""
            SELECT unix_micros(t) AS t, unix_micros(o) AS o, p, {calls}
            FROM (SELECT CAST(s AS TIMESTAMP) AS t FROM VALUES {times} AS v(s))
            CROSS JOIN (SELECT CAST(s AS TIMESTAMP) AS o FROM VALUES {origins} AS v(s))
            CROSS JOIN VALUES (1), (3), (7) AS ps(p)""").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # the default origin is 0001-01-01 00:00:00 in the functions' own zone
    # (UTC, captured when they were registered)
    default_origin = -62135596800000000
    bad = []
    for r in rows:
        for f in fns:
            unit, side = f.split("_")
            step = r["p"] * _FLOOR_CEIL_UNITS[unit]
            for o, got in ((r["o"], r[f]), (default_origin, r[f + "_d"])):
                ok = (got - o) % step == 0 and (
                    got <= r["t"] < got + step if side == "floor"
                    else got - step < r["t"] <= got)
                if not ok:
                    bad.append((f, r["t"], r["p"], o, got))
    assert len(rows) == len(_FLOOR_CEIL_TIMES) * len(_FLOOR_CEIL_ORIGINS) * 3
    assert not bad, bad[:5]


def test_day_floor_before_year_one(spark):
    """A floor that lands before 0001-01-01 stays aligned to its origin."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        got = spark.sql(
            "SELECT CAST(day_floor(TIMESTAMP '0001-01-01 18:22:19.111529', 3, "
            "TIMESTAMP '2020-02-29 13:17:11.123456') AS STRING)").collect()[0][0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got == "0000-12-31 13:17:11.123456"
