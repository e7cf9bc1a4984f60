"""Gates: reference regression-test suites run through the generic
suite runner (tools/ref_suite_runner.py) with their setup DDL/DML
replayed and every qt_ golden compared.

- `correctness` floor 225/232: the known remainder is the max_by NaN
  tie-break (unspecified ordering between equal keys).
- `nereids_tpch_p0` floor 38 cases / 20 files on OFFICIAL dbgen sf0.1
  data (generated locally by DuckDB's bundled dbgen, bit-identical to
  the reference CI's S3 fixture on every numeric/date/key column; the
  known remainder is q2/q10/q13/q15/q20 + agg_cse, whose goldens depend
  on dbgen's text-pool comment/address strings that DuckDB's generator
  reproduces by vocabulary but not byte-for-byte).
- `Array.groovy` 1004/1004 (round-7: datetimev2(n) array_join scale
  rendering via the DDL-time column-type hints).
- `correctness_p0` floor 1030/1036 (round-7: fully green at 1036 —
  the HAVING-without-GROUP-BY alias scope, stddev/variance macro OVER
  distribution, and date-vs-integer-literal comparison typing closed
  the last 27; one explain-shape golden is skipped by design). ~8 min
  wall-clock — the heaviest gate, kept because it covers 115 files of
  reference surface no other gate touches.
"""

import json
import os
import subprocess
import sys
import pytest

from tools.ref_suite_runner import SUITES_ROOT

# Hour-scale replay tier: excluded from the default (driver/CI) run by
# pytest.ini's `-m "not slow"`; run with `-m ""` for the full battery.
# The suites replay the reference checkout, so they skip without it.
pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(not os.path.isdir(SUITES_ROOT), reason="reference checkout absent"),
]


def _run(target: str, out_path: str, timeout: int = 900):
    env = dict(os.environ, RS_OUT=out_path)
    targets = target.split() if " " in target else [target]
    proc = subprocess.run(
        [sys.executable, "tools/ref_suite_runner.py", *targets],
        capture_output=True,
        text=True,
        timeout=timeout,
        env=env,
    )
    line = next(
        (
            ln
            for ln in proc.stdout.splitlines()
            if ln.startswith("suite-runner:")
        ),
        None,
    )
    assert line is not None, proc.stdout[-2000:] + proc.stderr[-2000:]
    return line, json.load(open(out_path))


def test_correctness_suite_floor():
    line, res = _run("correctness", "/tmp/ref_suites.json")
    assert res["total"] >= 230, line
    assert res["passed"] >= 225, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )


def test_nereids_tpch_suite_floor():
    line, res = _run("nereids_tpch_p0", "/tmp/ref_suites_tpch.json")
    assert res["total"] >= 49, line
    assert res["passed"] >= 38, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )
    assert res["files_green"] >= 20, line


def test_correctness_p0_suite_floor():
    line, res = _run(
        "correctness_p0", "/tmp/ref_suites_cp0.json", timeout=1500
    )
    assert res["total"] >= 1036, line
    assert res["passed"] >= 1030, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )
    assert res["files_green"] >= 113, line


def test_array_groovy_full_green():
    """Round 9: the refreshed reference grew Array.groovy to 1,015
    cases; 1,012 green. The 3 reds are DECIMAL256-array platform edges
    (array_product over >38-digit elements; arrays_overlap between a
    dec256 array and a narrower decimal array)."""
    line, res = _run(
        "nereids_function_p0/scalar_function/Array.groovy",
        "/tmp/ref_suites_array.json",
    )
    assert res["total"] >= 1015, line
    assert res["passed"] >= 1008, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )


def test_nereids_arith_suite_floor():
    """Doris binary-arithmetic coercion (plans/typed_arith.py): the
    2,899-case nereids_arith_p0 matrix (every type pair x every
    operator). Floor 2880; known remainder = abs() over bool/datetime
    operands, the *_floor SQL-UDF-in-ORDER-BY Spark restriction, and
    one __DORIS_DELETE_SIGN__ hidden-column case."""
    line, res = _run(
        "nereids_arith_p0", "/tmp/ref_suites_arith.json", timeout=1500
    )
    assert res["total"] >= 2913, line
    assert res["passed"] >= 2905, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )
    assert res["files_green"] >= 4, line


def test_nereids_syntax_suite_floor():
    """nereids_syntax_p0: binder/analyzer surface (aliases, grouping
    sets + HAVING, CTE alias prefixes, constraints metadata, star
    REPLACE, partition-pruned SELECT, lateral views, recursive CTEs,
    unrolled time-LUT matrix, bind priority, comma-join precedence,
    sync-MV DESC ALL, truthiness). Round 9: 3,083/3,085 — the two
    remaining reds are a live-jdbc-catalog case (alias_conflict) and a
    stale 3-column golden for a 2-column select (distribute/shuffle
    4_phase_agg). Floor 3,070 leaves noise headroom only."""
    line, res = _run(
        "nereids_syntax_p0", "/tmp/ref_suites_syntax.json", timeout=1800
    )
    assert res["total"] >= 3080, line
    assert res["passed"] >= 3070, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )
    assert res["files_green"] >= 138, line


def test_function_p0_suite_floor():
    """function_p0: the reference's cast-conformance matrices (8,221
    golden cases generated from BE unit tests) plus scalar-function
    files. Round 8 closed the whole suite (8,221/8,221, 134/134 files)
    via the column-path cast kernel (plans/column_cast.py), DECIMAL256
    shadow columns, JSONB casts, and the foreach combinator family.
    Floor 8,200 leaves headroom for environment noise only."""
    line, res = _run(
        "function_p0", "/tmp/ref_suites_function.json", timeout=2400
    )
    assert res["total"] >= 8239, line
    assert res["passed"] >= 8215, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )
    assert res["files_green"] >= 130, line


def test_rec_cte_suite_full_green():
    """rec_cte_p0: plain-UNION (distinct) recursion — semi-naive driver
    loop (plans/recursive_cte.py), overflow->NULL integer casts inside
    recursive members (the window-sum divergence case reaches the
    golden fixpoint through NULL), mutual recursion (checkpoint_step),
    and nested (WITH RECURSIVE ...) derived tables. 27/27 in round 8;
    floor 26 tolerates environment noise only."""
    line, res = _run(
        "rec_cte_p0", "/tmp/ref_suites_reccte.json", timeout=1500
    )
    assert res["total"] >= 27, line
    assert res["passed"] >= 26, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )
    assert res["files_green"] >= 3, line


def test_query_p0_agg_join_suite_floor():
    """query_p0/aggregate + query_p0/join (round 9): 2,110/2,123 — the
    ASOF join suites are fully green (102/102, incl. the large-bucket
    NULL-column matrix), test_join's 341-case null-value matrix is
    green via the date-vs-numeric packed-digit comparison retry, and
    bitmap-filter IN-subqueries explode correctly. Known remainder:
    BE debug-point injection suites (sleep-under-fault goldens, 5),
    DECIMAL256 column-path joins (5), a datetimev2(6) runtime-filter
    precision case, map_agg NULL keys, and one 191-row full-outer
    reconciliation query. Floor 2,090 tolerates environment noise."""
    line, res = _run(
        "query_p0/aggregate query_p0/join",
        "/tmp/ref_suites_qp0.json", timeout=2400,
    )
    assert res["total"] >= 2120, line
    assert res["passed"] >= 2090, line + "\n" + json.dumps(
        res["failures"][:10], indent=1
    )
    assert res["files_green"] >= 126, line


def test_reference_refresh_canary():
    """VERDICT r9 ask #7: the driver refreshed /root/reference mid-round
    9 and the refresh silently changed suite contents until a comparator
    bug surfaced. This canary pins the .groovy/.sql file counts of every
    gated family — a future refresh fails HERE with an explicit message
    instead of silently shifting a floor. On failure: re-run the listed
    family through tools/ref_suite_runner.py, re-validate its floor, and
    update BOTH the floor and this table in the same commit."""
    import glob as _glob

    root = "/root/reference/regression-test/suites"
    if not os.path.isdir(root):
        import pytest

        pytest.skip("reference checkout absent")
    expected = {
        "nereids_function_p0": (62, 1),
        "nereids_arith_p0": (8, 0),
        "nereids_syntax_p0": (186, 2),
        "query_p0/aggregate": (65, 0),
        "query_p0/join": (82, 17),
        "correctness": (40, 2),
        "correctness_p0": (130, 0),
        "nereids_tpch_p0": (28, 9),
        "rec_cte_p0": (4, 0),
        "query_p0/sql_functions/conditional_functions": (18, 0),
        "query_p0/sql_functions/case_function": (3, 0),
        "query_p0/sql_functions/math_functions": (12, 0),
        "query_p0/sql_functions/hash_functions": (1, 0),
        "query_p0/sql_functions/encryption_digest": (5, 0),
    }
    drift = {}
    for fam, (ng, ns) in expected.items():
        g = len(_glob.glob(f"{root}/{fam}/**/*.groovy", recursive=True))
        s = len(_glob.glob(f"{root}/{fam}/**/*.sql", recursive=True))
        if (g, s) != (ng, ns):
            drift[fam] = {"expected": (ng, ns), "found": (g, s)}
    assert not drift, (
        "REFERENCE REFRESHED — suite files changed; re-gate these "
        f"families and update floors + this canary: {drift}"
    )


def test_sql_functions_conditional_case_floor():
    """query_p0/sql_functions conditional_functions + case_function
    (round 10): 382/392 with 18/20 files fully green. Fixed this round:
    fixture loops with bare streamLoad table vars, INSERT VALUES with
    non-foldable exprs (to_bitmap) and string literals into complex
    columns, COUNT(DISTINCT <bitmap>) -> BITMAP_UNION_COUNT, FE
    coalesce/ifnull/if/|| type coercions, IS TRUE truthiness, IN-list
    numeric coercion, 1e309 -> Infinity, json_parse_error_to_*/
    strip_null_value semantics, year-9999 date_format (string-crossing
    the Arrow boundary), stream-load DUP-key storage order. Known
    remainder: DECIMAL256 column paths (8), one 800-row reconciliation
    case, LIKE blackslash-escape semantics (like19). Floor 370
    tolerates environment noise."""
    line, res = _run(
        "query_p0/sql_functions/conditional_functions "
        "query_p0/sql_functions/case_function",
        "/tmp/ref_suites_condcase.json", timeout=2400,
    )
    assert res["total"] >= 390, line
    assert res["passed"] >= 370, line + "\n" + json.dumps(
        res["failures"][:10], indent=1)
    assert res["files_green"] >= 16, line


def test_sql_functions_math_hash_encryption_floor():
    """query_p0/sql_functions math_functions + hash_functions +
    encryption_digest (round 10): 489/489 after this round's additions:
    MySQL-semantics AES/SM4 (XOR-folded keys, DORISDORISDORIS_ default
    IV, GCM iv||ct||tag blobs, block_encryption_mode session variable,
    CREATE ENCRYPTKEY objects), SM3 digest, Doris murmur_hash3_* (seed
    104729 / chained variadics / int128 packing) and xxhash_32/XXH3-64,
    format_round replayed bit-for-bit (int32 wraparounds included),
    dynamic-scale round/floor/ceil/truncate via a decimal-exact kernel,
    exact-erfc normal_cdf, NULL-on-domain-error dsqrt/dlog10. Floor 475
    tolerates environment noise."""
    line, res = _run(
        "query_p0/sql_functions/math_functions "
        "query_p0/sql_functions/hash_functions "
        "query_p0/sql_functions/encryption_digest",
        "/tmp/ref_suites_mathenc.json", timeout=3000,
    )
    assert res["total"] >= 485, line
    assert res["passed"] >= 475, line + "\n" + json.dumps(
        res["failures"][:10], indent=1)
    assert res["files_green"] >= 15, line


def test_sql_functions_time_lut_full_green():
    """query_p0/sql_functions/datetime_functions/test_time_lut.groovy:
    a 10,200-case generated matrix (year x month x WEEK-mode) over
    week/yearweek — fully green after round 10's 8-mode yearweek kernel
    with two-direction year rollover (pyfns.__yearweek). Floor 10,150
    tolerates environment noise. The rest of the string/datetime family
    is round-11 work (first scout: 9,950/13,133 before this round's
    string fixes; concurrent-runner fixture contention prevented a
    clean full-family re-measure this round)."""
    line, res = _run(
        "query_p0/sql_functions/datetime_functions/test_time_lut.groovy",
        # 6000s: this box drifts 2-3x on identical code (r12: this
        # replay fit in 2400s on earlier rounds' windows and hit
        # TimeoutExpired on a degraded one); the test is slow-tier-only
        # (pytest.ini), so the headroom costs the default run nothing.
        "/tmp/ref_suites_timelut.json", timeout=6000,
    )
    assert res["total"] >= 10200, line
    assert res["passed"] >= 10150, line + "\n" + json.dumps(
        res["failures"][:10], indent=1)
