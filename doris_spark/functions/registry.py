"""Doris scalar-function registry → Spark SQL temporary functions.

Reference: fe/fe-core/src/main/java/org/apache/doris/catalog/
BuiltinScalarFunctions.java (575 registrations; C++ impls under
be/src/exprs/function/). Spark already exposes most names natively
(SURVEY §2.8 maps the tiers); this module registers the *Doris-only*
names as **SQL UDFs** (CREATE TEMPORARY FUNCTION ... RETURN expr) —
they inline into Catalyst plans and stay inside whole-stage codegen,
unlike Python UDFs. No Python in any of these.

Each entry: name -> (typed parameter list, return expression). Types are
chosen to match Doris semantics documented in the reference impl files.

Doris installs this surface once per frontend; here every session
installs it, and the ~360 CREATEs, each parsed and analyzed on its own,
are most of a session's set-up. register_all therefore submits them as
one batch to a thread pool sized by the driver's CPUs (the JVM parses and
analyzes them side by side), while the Python UDF registrations run on
the calling thread. The batch is order-free because every name has one
definition (SQL_FUNCTIONS merges two disjoint mappings), no body calls
another name of the batch (tests/test_registry_batch.py checks both), and
the Python helpers that bodies call are registered before the batch starts.
"""

from __future__ import annotations

import re as _re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from doris_spark.functions.registry_ext import DORIS_SQL_FUNCTIONS_EXT

# name -> (params-SQL, body-SQL). Registered as:
#   CREATE OR REPLACE TEMPORARY FUNCTION name(params) RETURNS ... RETURN body
# (return type inferred by Spark from the body).
DORIS_SQL_FUNCTIONS: dict[str, tuple[str, str]] = {
    # ---- date/time arithmetic family (be/src/exprs/function/
    #      function_date_or_datetime_computation.cpp)
    "years_add": ("t TIMESTAMP, n INT", "t + make_interval(n)"),
    "years_sub": ("t TIMESTAMP, n INT", "t - make_interval(n)"),
    "months_add": ("t TIMESTAMP, n INT", "t + make_interval(0, n)"),
    "months_sub": ("t TIMESTAMP, n INT", "t - make_interval(0, n)"),
    "weeks_add": ("t TIMESTAMP, n INT", "t + make_interval(0, 0, n)"),
    "weeks_sub": ("t TIMESTAMP, n INT", "t - make_interval(0, 0, n)"),
    "days_add": ("t TIMESTAMP, n INT", "t + make_interval(0, 0, 0, n)"),
    "days_sub": ("t TIMESTAMP, n INT", "t - make_interval(0, 0, 0, n)"),
    "hours_add": ("t TIMESTAMP, n INT", "t + make_interval(0, 0, 0, 0, n)"),
    "hours_sub": ("t TIMESTAMP, n INT", "t - make_interval(0, 0, 0, 0, n)"),
    # BIGINT shift counts (MySQL accepts >2^31 minutes); routed through the
    # DECIMAL seconds arg of make_interval, whose INT fields would overflow
    "minutes_add": (
        "t TIMESTAMP, n BIGINT",
        "t + make_interval(0, 0, 0, 0, 0, 0, CAST(n AS DECIMAL(18,6)) * 60)",
    ),
    "minutes_sub": (
        "t TIMESTAMP, n BIGINT",
        "t - make_interval(0, 0, 0, 0, 0, 0, CAST(n AS DECIMAL(18,6)) * 60)",
    ),
    "seconds_add": (
        "t TIMESTAMP, n BIGINT",
        "t + make_interval(0, 0, 0, 0, 0, 0, CAST(n AS DECIMAL(18,6)))",
    ),
    "seconds_sub": (
        "t TIMESTAMP, n BIGINT",
        "t - make_interval(0, 0, 0, 0, 0, 0, CAST(n AS DECIMAL(18,6)))",
    ),
    "years_diff": ("a TIMESTAMP, b TIMESTAMP", "timestampdiff(YEAR, b, a)"),
    "months_diff": ("a TIMESTAMP, b TIMESTAMP", "timestampdiff(MONTH, b, a)"),
    "weeks_diff": ("a TIMESTAMP, b TIMESTAMP", "timestampdiff(WEEK, b, a)"),
    "days_diff": ("a TIMESTAMP, b TIMESTAMP", "timestampdiff(DAY, b, a)"),
    "hours_diff": ("a TIMESTAMP, b TIMESTAMP", "timestampdiff(HOUR, b, a)"),
    "minutes_diff": ("a TIMESTAMP, b TIMESTAMP", "timestampdiff(MINUTE, b, a)"),
    "seconds_diff": ("a TIMESTAMP, b TIMESTAMP", "timestampdiff(SECOND, b, a)"),
    # MySQL/Doris quirk: the Monday of 1970-01-01..03 would fall in 1969,
    # which TO_MONDAY clamps to the epoch date itself.
    "to_monday": (
        "t TIMESTAMP",
        "CASE WHEN CAST(t AS DATE) BETWEEN DATE '1970-01-01' AND DATE '1970-01-04' "
        "THEN DATE '1970-01-01' ELSE CAST(date_trunc('WEEK', t) AS DATE) END",
    ),
    # Accepts TIME-shaped strings (signed, hours may exceed 23 — the Doris
    # TIME domain) and datetime-castable strings (time-of-day taken).
    # TIME-shaped strings only (signed, hours to 838 — the Doris TIME
    # domain); datetime strings are NOT a valid TIME cast -> NULL.
    "time_to_sec": (
        "t STRING",
        "CASE WHEN t RLIKE '^-?[0-9]{1,3}:[0-9]{1,2}:[0-9]{1,2}(\\\\.[0-9]+)?$' "
        "AND CAST(split(regexp_replace(t, '^-', ''), ':')[0] AS INT) <= 838 "
        "AND CAST(split(regexp_replace(t, '^-', ''), ':')[1] AS INT) <= 59 "
        "AND CAST(CAST(split(regexp_replace(t, '^-', ''), ':')[2] AS DOUBLE) AS INT) <= 59 THEN "
        "  IF(t RLIKE '^-', -1, 1) * ("
        "    CAST(split(regexp_replace(t, '^-', ''), ':')[0] AS INT) * 3600 "
        "    + CAST(split(regexp_replace(t, '^-', ''), ':')[1] AS INT) * 60 "
        "    + CAST(CAST(split(regexp_replace(t, '^-', ''), ':')[2] AS DOUBLE) AS INT)) "
        "ELSE NULL END",
    ),
    # TIME rendering: sign handled explicitly (lpad would eat it), hours
    # zero-padded to 2 but allowed beyond 24, fractional seconds rendered
    # at micro precision when present (Doris TIME(6) semantics).
    # STRING param: the implicit cast renders the argument's ORIGINAL
    # scale, which picks the render mode — integer input -> TIME(0)
    # 'HH:MM:SS', any decimal input (even .00) -> TIME(6) with a full
    # 6-digit fraction. Values clamp to the TimeV2 domain ±838:59:59
    # (= ±3020399 s; the reference clamps the fraction to .000000 there).
    "sec_to_time": (
        "x STRING",
        "CASE WHEN try_cast(x AS DECIMAL(27,6)) IS NULL THEN NULL ELSE "
        "IF(try_cast(x AS DECIMAL(27,6)) < 0, '-', '') || "
        "IF(CAST(least(greatest(abs(try_cast(x AS DECIMAL(27,6))), 0), 3020399) AS BIGINT) div 3600 < 10, '0', '') || "
        "CAST(CAST(least(abs(try_cast(x AS DECIMAL(27,6))), 3020399) AS BIGINT) div 3600 AS STRING) || ':' || "
        "lpad(CAST((CAST(least(abs(try_cast(x AS DECIMAL(27,6))), 3020399) AS BIGINT) % 3600) div 60 AS STRING), 2, '0') || ':' || "
        "lpad(CAST(CAST(least(abs(try_cast(x AS DECIMAL(27,6))), 3020399) AS BIGINT) % 60 AS STRING), 2, '0') || "
        "IF(instr(x, '.') = 0, '', "
        "'.' || lpad(CAST(CAST((least(abs(try_cast(x AS DECIMAL(27,6))), 3020399) % 1) * 1000000 AS BIGINT) AS STRING), 6, '0')) "
        "END",
    ),
    # Doris to_days: days since year 0; offset 719528 = to_days('1970-01-01').
    # MySQL's year 0 is NOT a leap year (365 days, day 1 = 0000-01-01,
    # 0000-02-29 invalid), while the ISO proleptic calendar Spark uses gives
    # year 0 a Feb 29 — so Jan/Feb of year 0 sit one day later in MySQL's
    # count and the two calendars re-align from 0000-03-01 onward.
    "to_days": (
        "d DATE",
        "CASE WHEN year(d) = 0 AND month(d) = 2 AND day(d) = 29 THEN NULL "
        "WHEN year(d) = 0 AND month(d) <= 2 THEN datediff(d, DATE '1970-01-01') + 719529 "
        "ELSE datediff(d, DATE '1970-01-01') + 719528 END",
    ),
    "from_days": (
        # days-since-year-0, inverse of the MySQL count above (n <= 59 maps
        # into MySQL's Feb-29-less year 0). Rendered as a string because
        # year-0 dates exist JVM-side (java.time) but cannot materialize as
        # Python datetime.date on collect.
        "n BIGINT",
        "CASE WHEN n < 1 OR n > 4371587 THEN NULL "
        "WHEN n <= 59 THEN date_format(date_add(DATE '1970-01-01', CAST(n - 719529 AS INT)), 'yyyy-MM-dd') "
        "ELSE date_format(date_add(DATE '1970-01-01', CAST(n - 719528 AS INT)), 'yyyy-MM-dd') END",
    ),
    "datev2": ("s STRING", "try_cast(s AS DATE)"),
    # MySQL %-patterns route to the Python kernel (pyfns), Java patterns
    # stay on the codegen path.
    "str_to_date": (
        "s STRING, fmt STRING",
        # the kernel returns an ISO string; the cast runs JVM-side in the
        # session timezone (a naive timestamp via Arrow would be re-keyed
        # by the Python worker's zone)
        "CASE WHEN contains(fmt, '%') THEN CAST(__mysql_strptime(s, fmt) AS TIMESTAMP) "
        "ELSE try_to_timestamp(s, fmt) END",
    ),
    "utc_timestamp": ("", "to_utc_timestamp(current_timestamp(), current_timezone())"),
    # ---- numeric (be/src/exprs/function/math.cpp, round.cpp)
    "round_bankers": ("x DOUBLE, d INT", "bround(x * pow(10, d)) / pow(10, d)"),
    "truncate": (
        "x DOUBLE, d INT",
        "CASE WHEN x >= 0 THEN floor(x * pow(10, d)) / pow(10, d) "
        "ELSE ceil(x * pow(10, d)) / pow(10, d) END",
    ),
    "dexp": ("x DOUBLE", "exp(x)"),
    # out-of-domain math unaries are NULL in Doris, not NaN
    # (math_functions/test_math_unary_alway_nullable.groovy)
    "dlog10": ("x DOUBLE", "CASE WHEN x <= 0 THEN NULL ELSE log10(x) END"),
    "dsqrt": ("x DOUBLE", "CASE WHEN x < 0 THEN NULL ELSE sqrt(x) END"),
    "fmod": ("a DOUBLE, b DOUBLE", "a - b * CAST(CAST(a / b AS BIGINT) AS DOUBLE)"),
    "normal_cdf": (
        # exact erfc kernel (__normal_cdf, pyfns) — the polynomial
        # approximation missed doc goldens in the 7th digit; a
        # non-positive sigma is out of domain -> NULL (BE
        # function_math.cpp, math_functions/test_normal_cdf.groovy)
        "mu DOUBLE, sigma DOUBLE, x DOUBLE",
        "CASE WHEN x IS NULL OR mu IS NULL OR sigma IS NULL "
        "OR sigma <= 0 THEN NULL ELSE __normal_cdf(mu, sigma, x) END",
    ),
    # ---- string (function_string.cpp et al.)
    "strleft": ("s STRING, n INT", "left(s, n)"),
    # negative n reads FROM position -n (string_functions/
    # test_string_function.groovy: strright('Hello doris', -5) = the
    # tail starting at char 5)
    "strright": (
        "s STRING, n INT",
        "CASE WHEN n < 0 THEN substr(s, -n) ELSE right(s, n) END",
    ),
    "append_trailing_char_if_absent": (
        "s STRING, c STRING",
        "CASE WHEN endswith(s, c) THEN s ELSE s || c END",
    ),
    "null_or_empty": ("s STRING", "s IS NULL OR s = ''"),
    "not_null_or_empty": ("s STRING", "s IS NOT NULL AND s <> ''"),
    "strcmp": ("a STRING, b STRING", "CASE WHEN a < b THEN -1 WHEN a > b THEN 1 ELSE 0 END"),
    "field": ("x STRING, arr ARRAY<STRING>", "coalesce(array_position(arr, x), 0)"),
    "money_format": (
        "x DOUBLE",
        "format_number(x, 2)",
    ),
    "split_by_string": (
        # '' input -> []; '' separator -> per-char with no trailing ''
        # (string_functions/test_split_by_string.groovy)
        "s STRING, sep STRING",
        "CASE WHEN s IS NULL OR sep IS NULL THEN NULL "
        "WHEN s = '' THEN CAST(array() AS ARRAY<STRING>) "
        "WHEN sep = '' THEN filter(split(s, ''), x -> x != '') "
        "ELSE split(s, '\\\\Q' || sep || '\\\\E') END",
    ),
    "split_by_regexp": ("s STRING, pat STRING", "split(s, pat)"),
    "substring_index_doris": ("s STRING, sep STRING, n INT", "substring_index(s, sep, n)"),
    "is_uuid": (
        "s STRING",
        "s rlike '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$'",
    ),
    "uuid_numeric": ("", "CAST(conv(substr(replace(uuid(), '-', ''), 1, 15), 16, 10) AS BIGINT)"),
    "ends_with": ("s STRING, suffix STRING", "endswith(s, suffix)"),
    "starts_with": ("s STRING, prefix STRING", "startswith(s, prefix)"),
    "hamming_distance": (
        "a STRING, b STRING",
        "CASE WHEN length(a) <> length(b) THEN NULL ELSE "
        "size(filter(sequence(1, length(a)), i -> substr(a, i, 1) <> substr(b, i, 1))) END",
    ),
    "ngram_search": (
        # trigram similarity of b within a (function_levenshtein.cpp variant):
        # |trigrams(a) ∩ trigrams(b)| / |trigrams(b)|
        "a STRING, b STRING",
        "CASE WHEN length(b) < 3 THEN CAST(NULL AS DOUBLE) ELSE "
        "CAST(size(array_intersect("
        "  array_distinct(transform(sequence(1, greatest(length(a) - 2, 0)), i -> substr(a, i, 3))),"
        "  array_distinct(transform(sequence(1, greatest(length(b) - 2, 0)), i -> substr(b, i, 3)))"
        ")) AS DOUBLE) / size(array_distinct(transform(sequence(1, greatest(length(b) - 2, 0)), i -> substr(b, i, 3)))) END",
    ),
    # ---- conditional (if.cpp, function_ifnull.h)
    # MySQL packed-digit numeric -> datetime reading (20221111 is
    # 2022-11-11; 14/12/6-digit forms carry a time part / 2-digit year)
    "__dt_from_numeric": (
        "x BIGINT",
        "CASE WHEN x IS NULL THEN NULL "
        "WHEN length(CAST(x AS STRING)) = 8 THEN try_to_timestamp(CAST(x AS STRING), 'yyyyMMdd') "
        "WHEN length(CAST(x AS STRING)) = 14 THEN try_to_timestamp(CAST(x AS STRING), 'yyyyMMddHHmmss') "
        "WHEN length(CAST(x AS STRING)) = 6 THEN try_to_timestamp(CAST(x AS STRING), 'yyMMdd') "
        "WHEN length(CAST(x AS STRING)) = 12 THEN try_to_timestamp(CAST(x AS STRING), 'yyMMddHHmmss') "
        "ELSE NULL END",
    ),
    # returns the VALUE (with a non-nullable type in Doris); a NULL input
    # is a runtime error
    "non_nullable": (
        "x STRING",
        "IF(x IS NULL, CAST(assert_true(false, 'non_nullable got NULL') AS STRING), x)",
    ),
    # ---- bit (function_bit.cpp, function_bit_shift.cpp)
    "bitand": ("a BIGINT, b BIGINT", "a & b"),
    "bitor": ("a BIGINT, b BIGINT", "a | b"),
    "bitxor": ("a BIGINT, b BIGINT", "a ^ b"),
    "bitnot": ("a BIGINT", "~a"),
    # Doris shifts are LOGICAL (zero-fill) and yield 0 once the count
    # leaves [0, 63] (Java's shiftleft/shiftright wrap the count mod 64)
    "bit_shift_left": (
        "a BIGINT, n INT",
        "IF(n < 0 OR n > 63, 0, shiftleft(a, n))",
    ),
    "bit_shift_right": (
        "a BIGINT, n INT",
        "IF(n < 0 OR n > 63, 0, shiftrightunsigned(a, n))",
    ),
    "bit_test": ("a BIGINT, pos INT", "CAST((a >> pos) & 1 AS TINYINT)"),
    # ---- timezone + calendar names
    #      (function_date_or_datetime_computation.cpp convert_tz;
    #       function_date_or_datetime_to_string.cpp dayname/monthname)
    "convert_tz": (
        "t TIMESTAMP_NTZ, src STRING, dst STRING",
        "convert_timezone(src, dst, t)",
    ),
    # dayname/monthname: Spark 4 built-ins (not re-registered per the
    # ~85%-overlap rule); note Spark returns abbreviated names.
    # ---- URL (be/src/exprs/function/function_string_url.cpp)
    "protocol": ("u STRING", "regexp_extract(u, '^([a-zA-Z0-9.+-]+)://', 1)"),
    "domain": (
        "u STRING",
        "regexp_extract(u, '^(?:[a-zA-Z0-9.+-]+://)?(?:[^/@]*@)?([^/:?#]+)', 1)",
    ),
    "domain_without_www": (
        "u STRING",
        "regexp_replace(regexp_extract(u, '^(?:[a-zA-Z0-9.+-]+://)?(?:[^/@]*@)?([^/:?#]+)', 1), "
        "'^www\\\\.', '')",
    ),
    "extract_url_parameter": (
        "u STRING, p STRING",
        "regexp_extract(u, concat('[?&]', p, '=([^&#]*)'), 1)",
    ),
    "top_level_domain": (
        "u STRING",
        "regexp_extract(regexp_extract(u, '^(?:[a-zA-Z0-9.+-]+://)?(?:[^/@]*@)?([^/:?#]+)', 1), "
        "'\\\\.([a-zA-Z0-9-]+)$', 1)",
    ),
    # ---- mask family (function_string.cpp mask/mask_first_n/mask_last_n;
    #      Spark's mask() has the same X/x/n defaults)
    "mask_first_n": (
        "s STRING, n INT",
        "concat(mask(substring(s, 1, n)), substring(s, n + 1))",
    ),
    "mask_last_n": (
        "s STRING, n INT",
        "concat(substring(s, 1, greatest(length(s) - n, 0)), "
        "mask(substring(s, greatest(length(s) - n, 0) + 1)))",
    ),
    # ---- IP (function_ip.cpp) — IPv4 stored as BIGINT
    "ipv4_num_to_string": (
        "n BIGINT",
        "CASE WHEN n < 0 OR n > 4294967295 THEN NULL ELSE "
        "concat_ws('.', CAST((n >> 24) & 255 AS STRING), CAST((n >> 16) & 255 AS STRING), "
        "CAST((n >> 8) & 255 AS STRING), CAST(n & 255 AS STRING)) END",
    ),
    "ipv4_string_to_num": (
        "s STRING",
        "CASE WHEN s rlike '^([0-9]{1,3}\\\\.){3}[0-9]{1,3}$' THEN "
        "CAST(split(s, '\\\\.')[0] AS BIGINT) * 16777216 + CAST(split(s, '\\\\.')[1] AS BIGINT) * 65536 "
        "+ CAST(split(s, '\\\\.')[2] AS BIGINT) * 256 + CAST(split(s, '\\\\.')[3] AS BIGINT) ELSE NULL END",
    ),
    "is_ipv4_string": (
        "s STRING",
        "s rlike '^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$'",
    ),
    "is_ip_address_in_range": (
        "s STRING, cidr STRING",
        # n(s) and n(prefix) inlined (SQL UDFs can't call each other at
        # definition time); /0 works because (n >> 32) is 0 for any IPv4.
        "CASE WHEN s rlike '^([0-9]{1,3}\\\\.){3}[0-9]{1,3}$' "
        "AND split(cidr, '/')[0] rlike '^([0-9]{1,3}\\\\.){3}[0-9]{1,3}$' THEN "
        "((CAST(split(s, '\\\\.')[0] AS BIGINT) * 16777216 + CAST(split(s, '\\\\.')[1] AS BIGINT) * 65536 "
        "+ CAST(split(s, '\\\\.')[2] AS BIGINT) * 256 + CAST(split(s, '\\\\.')[3] AS BIGINT)) "
        ">> (32 - CAST(split(cidr, '/')[1] AS INT))) = "
        "((CAST(split(split(cidr, '/')[0], '\\\\.')[0] AS BIGINT) * 16777216 "
        "+ CAST(split(split(cidr, '/')[0], '\\\\.')[1] AS BIGINT) * 65536 "
        "+ CAST(split(split(cidr, '/')[0], '\\\\.')[2] AS BIGINT) * 256 "
        "+ CAST(split(split(cidr, '/')[0], '\\\\.')[3] AS BIGINT)) "
        ">> (32 - CAST(split(cidr, '/')[1] AS INT))) "
        "ELSE NULL END",
    ),
    "inet_aton": (
        "s STRING",
        "CASE WHEN s rlike '^([0-9]{1,3}\\\\.){3}[0-9]{1,3}$' THEN "
        "CAST(split(s, '\\\\.')[0] AS BIGINT) * 16777216 + CAST(split(s, '\\\\.')[1] AS BIGINT) * 65536 "
        "+ CAST(split(s, '\\\\.')[2] AS BIGINT) * 256 + CAST(split(s, '\\\\.')[3] AS BIGINT) ELSE NULL END",
    ),
    "inet_ntoa": (
        "n BIGINT",
        "CASE WHEN n < 0 OR n > 4294967295 THEN NULL ELSE "
        "concat_ws('.', CAST((n >> 24) & 255 AS STRING), CAST((n >> 16) & 255 AS STRING), "
        "CAST((n >> 8) & 255 AS STRING), CAST(n & 255 AS STRING)) END",
    ),
    # ---- array family (be/src/exprs/function/array/)
    # numeric folds SKIP null elements (SQL-aggregate semantics); all-null
    # or empty input -> NULL
    "array_sum": (
        "a ARRAY<DOUBLE>",
        "CASE WHEN size(filter(a, x -> x IS NOT NULL)) = 0 THEN NULL ELSE "
        "aggregate(filter(a, x -> x IS NOT NULL), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) END",
    ),
    "array_avg": (
        "a ARRAY<DOUBLE>",
        "CASE WHEN size(filter(a, x -> x IS NOT NULL)) = 0 THEN NULL ELSE "
        "aggregate(filter(a, x -> x IS NOT NULL), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) "
        "/ size(filter(a, x -> x IS NOT NULL)) END",
    ),
    "array_product": (
        "a ARRAY<DOUBLE>",
        "CASE WHEN size(filter(a, x -> x IS NOT NULL)) = 0 THEN NULL ELSE "
        "aggregate(filter(a, x -> x IS NOT NULL), CAST(1.0 AS DOUBLE), (acc, x) -> acc * x) END",
    ),
    "array_cum_sum": (
        "a ARRAY<DOUBLE>",
        "transform(sequence(1, size(a)), i -> aggregate(slice(a, 1, i), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))",
    ),
    # sequence(1, 0) is a DESCENDING range in Spark — every index-driven
    # array kernel needs the explicit empty guard
    "array_difference": (
        "a ARRAY<DOUBLE>",
        # null neighbors (incl. non-numeric input cast to null) yield null,
        # and a null head keeps the leading 0 null too
        "CASE WHEN a IS NULL THEN NULL WHEN size(a) = 0 THEN CAST(array() AS ARRAY<DOUBLE>) ELSE "
        "transform(sequence(1, size(a)), i -> "
        "CASE WHEN i = 1 THEN IF(a[0] IS NULL, CAST(NULL AS DOUBLE), CAST(0.0 AS DOUBLE)) "
        "WHEN a[i-1] IS NULL OR a[i-2] IS NULL THEN CAST(NULL AS DOUBLE) "
        "ELSE a[i-1] - a[i-2] END) END",
    ),
    "array_enumerate": (
        "a ARRAY<STRING>",
        "CASE WHEN a IS NULL THEN NULL WHEN size(a) = 0 THEN CAST(array() AS ARRAY<INT>) "
        "ELSE sequence(1, size(a)) END",
    ),
    "array_first": ("a ARRAY<STRING>", "a[0]"),
    "array_last": ("a ARRAY<STRING>", "a[size(a) - 1]"),
    "array_count": ("a ARRAY<BOOLEAN>", "size(filter(a, x -> x))"),
    "array_range": ("n INT", "sequence(0, n - 1)"),
    "array_popback": ("a ARRAY<STRING>", "slice(a, 1, size(a) - 1)"),
    "array_popfront": ("a ARRAY<STRING>", "slice(a, 2, size(a) - 1)"),
    "array_pushback": ("a ARRAY<STRING>, x STRING", "concat(a, array(x))"),
    "array_pushfront": ("a ARRAY<STRING>, x STRING", "concat(array(x), a)"),
    "array_concat": ("a ARRAY<STRING>, b ARRAY<STRING>", "concat(a, b)"),
    "array_slice": ("a ARRAY<STRING>, off INT, len INT", "slice(a, off, len)"),
    "array_reverse_sort": ("a ARRAY<STRING>", "reverse(array_sort(a))"),
    # array_sortby (function_array_sortby.cpp): sort `a` by parallel key
    # array `k` (stable via struct lexicographic sort on (key, value)).
    "array_sortby": (
        "a ARRAY<STRING>, k ARRAY<DOUBLE>",
        "transform(array_sort(zip_with(k, a, (x, y) -> named_struct('k', x, 'v', y))), s -> s.v)",
    ),
    "l2_distance": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))",
    ),
    "inner_product": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)",
    ),
    "cosine_distance": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "1.0 - aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / "
        "(sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) * "
        "sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))",
    ),
    "cosine_similarity": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / "
        "(sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) * "
        "sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))",
    ),
    # ---- JSON (function_jsonb.cpp) — typed jsonb extraction goes through
    # the __jsonb_ext python kernel (pyfns._jsonb_scalar_one): it walks
    # Doris paths get_json_object can't ([last], negative indexes) and
    # applies function_jsonb.cpp's strict type coercions (e.g.
    # jsonb_extract_int on a string is NULL, not a parse).
    "jsonb_extract_string": ("j STRING, p STRING", "__jsonb_ext(j, p, 'string')"),
    "jsonb_extract_int": ("j STRING, p STRING", "CAST(__jsonb_ext(j, p, 'int') AS INT)"),
    "jsonb_extract_bigint": ("j STRING, p STRING", "CAST(__jsonb_ext(j, p, 'int') AS BIGINT)"),
    "jsonb_extract_double": ("j STRING, p STRING", "CAST(__jsonb_ext(j, p, 'double') AS DOUBLE)"),
    "jsonb_extract_bool": ("j STRING, p STRING", "CAST(__jsonb_ext(j, p, 'bool') AS BOOLEAN)"),
    "json_extract_doris": ("j STRING, p STRING", "get_json_object(j, p)"),
    "json_unquote": ("j STRING", "regexp_replace(j, '^\"|\"$', '')"),
    "json_valid": (
        "j STRING",
        "CASE WHEN j IS NULL THEN NULL WHEN try_to_number(j, '999999999999.999999') IS NOT NULL "
        "OR j IN ('true', 'false', 'null') OR (startswith(j, '{') AND endswith(j, '}') AND get_json_object(j, '$') IS NOT NULL) "
        "OR (startswith(j, '[') AND endswith(j, ']') AND json_array_length(j) IS NOT NULL) THEN true ELSE false END",
    ),
    "json_length_doris": ("j STRING", "json_array_length(j)"),
    # ---- geo subset (be/src/exprs/function/geo/; WKT points + sphere
    #      distance — haversine on the 6371km sphere, Doris geo.cpp default)
    "st_point": ("x DOUBLE, y DOUBLE", "named_struct('x', x, 'y', y)"),
    # st_x / st_y / st_astext are pandas UDFs in functions/geo2.py —
    # they accept BOTH the struct-point tier and WKT-string geometries
    # (registered after this SQL loop, so they are the live bindings)
    "st_distance_sphere": (
        "lon1 DOUBLE, lat1 DOUBLE, lon2 DOUBLE, lat2 DOUBLE",
        "2 * 6371000.0 * asin(sqrt("
        "pow(sin(radians(lat2 - lat1) / 2), 2) + "
        "cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2)))",
    ),
    "st_angle_sphere": (
        "lon1 DOUBLE, lat1 DOUBLE, lon2 DOUBLE, lat2 DOUBLE",
        "degrees(2 * asin(sqrt("
        "pow(sin(radians(lat2 - lat1) / 2), 2) + "
        "cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2))))",
    ),
    # ---- misc/system (SURVEY §2.8 misc tier)
    # ---- straggler batch (round 2)
    # multi_search_all_positions / multi_match_any
    # (be/src/exprs/function/function_multi_match.cpp): 1-based position per
    # needle (0 = absent), any-regexp-matches.
    "multi_search_all_positions": (
        "h STRING, needles ARRAY<STRING>",
        "transform(needles, n -> locate(n, h))",
    ),
    "multi_match_any": (
        "h STRING, patterns ARRAY<STRING>",
        "exists(patterns, p -> h rlike p)",
    ),
    # array_enumerate_uniq (be/src/exprs/function/array/): occurrence index
    # (1-based) of each element among its equals so far.
    "array_enumerate_uniq": (
        "a ARRAY<STRING>",
        # null-safe equality: null elements enumerate among themselves
        "transform(a, (x, i) -> size(filter(slice(a, 1, i + 1), y -> y <=> x)))",
    ),
    # ISO8601 (function_date_or_datetime_to_string.cpp). String-typed so a
    # DATE argument keeps its date-only rendering and so sub-microsecond
    # input can round (Doris rounds the 7th fractional digit half-up;
    # Spark's string->timestamp cast truncates, so the lost digit is
    # re-applied as +1us when it is >= 5).
    "to_iso8601": (
        "s STRING",
        "CASE WHEN s RLIKE '^[0-9]{4}-[0-9]{2}-[0-9]{2}$' THEN date_format(try_cast(s AS DATE), 'yyyy-MM-dd') "
        "ELSE date_format(try_cast(s AS TIMESTAMP) + make_interval(0, 0, 0, 0, 0, 0, "
        "IF(coalesce(try_cast(regexp_extract(s, '\\\\.[0-9]{6}([0-9])', 1) AS INT), 0) >= 5, 0.000001, 0)), "
        "\"yyyy-MM-dd'T'HH:mm:ss.SSSSSS\") END",
    ),
    # Strict ISO-8601 date forms only (Presto-derived semantics): calendar
    # date, year-month, year, ordinal date (YYYY-DDD), and week date
    # (YYYY-Www[-D], ISO week anchored on Jan 4). Anything else -> NULL.
    "from_iso8601_date": (
        "s STRING",
        "CASE "
        "WHEN s RLIKE '^[0-9]{4}-[0-9]{2}-[0-9]{2}$' THEN try_to_date(s) "
        "WHEN s RLIKE '^[0-9]{4}-[0-9]{2}$' THEN try_to_date(s || '-01') "
        "WHEN s RLIKE '^[0-9]{4}$' THEN try_to_date(s || '-01-01') "
        "WHEN s RLIKE '^[0-9]{4}-[0-9]{3}$' THEN "
        "  CASE WHEN CAST(substr(s, 6, 3) AS INT) BETWEEN 1 AND 366 THEN "
        "    date_add(make_date(CAST(substr(s, 1, 4) AS INT), 1, 1), CAST(substr(s, 6, 3) AS INT) - 1) END "
        "WHEN s RLIKE '^[0-9]{4}-W[0-9]{2}(-[1-7])?$' "
        "AND CAST(substr(s, 7, 2) AS INT) BETWEEN 1 AND 53 THEN "
        "  date_add(date_sub(make_date(CAST(substr(s, 1, 4) AS INT), 1, 4), "
        "                    pmod(dayofweek(make_date(CAST(substr(s, 1, 4) AS INT), 1, 4)) + 5, 7)), "
        "           (CAST(substr(s, 7, 2) AS INT) - 1) * 7 "
        "           + IF(length(s) = 10, CAST(substr(s, 10, 1) AS INT) - 1, 0)) "
        "ELSE NULL END",
    ),
    # bitmap scalar stragglers (function_bitmap.cpp); bitmap = sorted
    # array<bigint> per functions/sketches.py. bitmap_hash uses Spark's
    # murmur3-32 (hash) / xxhash64 — same family as Doris, different seed;
    # internally consistent across this engine.
    "bitmap_empty": ("", "CAST(array() AS ARRAY<BIGINT>)"),
    "bitmap_hash": ("s STRING", "CASE WHEN s IS NULL THEN array() ELSE array(CAST(hash(s) AS BIGINT) & 4294967295) END"),
    "bitmap_hash64": ("s STRING", "CASE WHEN s IS NULL THEN array() ELSE array(xxhash64(s)) END"),
    # json_exists_path (function_jsonb.cpp). Caveat: a path holding JSON null
    # reads as absent (get_json_object collapses both to NULL).
    "json_exists_path": ("j STRING, p STRING", "get_json_object(j, p) IS NOT NULL"),
    # regexp_extract_or_null (function_regexp.cpp): NULL instead of '' when
    # the pattern does not match. (An empty CAPTURE also maps to NULL —
    # acceptable divergence, documented.)
    "regexp_extract_or_null": (
        "s STRING, p STRING, idx INT",
        "nullif(regexp_extract(s, p, idx), '')",
    ),
}

# Every SQL-UDF definition, one per name: what register_all CREATEs and
# what Engine.sql inlines on its retry ladder.
SQL_FUNCTIONS: dict[str, tuple[str, str]] = {**DORIS_SQL_FUNCTIONS, **DORIS_SQL_FUNCTIONS_EXT}

# Date-shift functions whose result must stay inside the Doris datetime
# domain [0001-01-01, 9999-12-31]; outside it Doris yields NULL, while a
# raw Spark interval add happily produces year 12023 (which then breaks
# any Python-side consumer of the value).
_DATE_SHIFT = _re.compile(
    r"^(years|quarters|months|weeks|days|hours|minutes|seconds|"
    r"milliseconds|microseconds)_(add|sub)$"
)


def clamp_datetime_domain(name: str, body: str) -> str:
    """Wrap a date-shift SQL body so out-of-domain INPUTS and results
    become NULL (every shift function names its operand `t`)."""
    if not _DATE_SHIFT.match(name):
        return body
    return (
        f"CASE WHEN year(t) BETWEEN 1 AND 9999 "
        f"AND year({body}) BETWEEN 1 AND 9999 THEN ({body}) ELSE NULL END"
    )


def _create(spark: SparkSession, name: str, params: str, body: str) -> None:
    body = clamp_datetime_domain(name, body)
    spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) RETURN {body}")


def register_all(spark: SparkSession) -> int:
    """Install the Doris-only function names as SQL temporary functions.
    Returns the number registered. Idempotent (CREATE OR REPLACE).

    The SQL_FUNCTIONS CREATEs run as one batch on a pool sized by the
    driver's CPUs while the Python registrations run on this thread; the
    first CREATE that fails is raised once every CREATE has finished."""
    from doris_spark.functions import (
        ai,
        crypto,
        dicts,
        geo2,
        json_mut,
        pyfns,
        regexps,
        textdist,
        tvf,
        udtf,
    )
    from doris_spark.session import driver_cpus

    # The Python helpers SQL bodies call: a body is analyzed at CREATE
    # time, so these must exist before the batch starts.
    n = pyfns.register_mysql_datetime(spark)
    n += pyfns.register_math_kernels(spark)
    n += geo2.register_helpers(spark)
    n += pyfns.register_apn_helper(spark)
    n += pyfns.register_crc32_internal(spark)
    n += pyfns.register_charset(spark)
    with ThreadPoolExecutor(max_workers=driver_cpus()) as pool:
        futures = [
            pool.submit(_create, spark, name, params, body)
            for name, (params, body) in SQL_FUNCTIONS.items()
        ]
        n += len(futures)
        n += pyfns.register(spark)
        n += geo2.register(spark)
        n += tvf.register(spark)
        n += ai.register(spark)
        n += dicts.register(spark)
        n += crypto.register(spark)
        n += json_mut.register_aliases(spark)
        n += json_mut.register(spark)
        n += textdist.register(spark)
        n += regexps.register(spark)
        n += udtf.register(spark)
    for f in futures:
        f.result()
    return n
