"""Characterization corpus for the SQL text-rewrite tiers.

`tests/data/rewrite_corpus.jsonl` pins, for every input, the output of
`dialect(s)`, `rewrite(dialect(s))` and `arith_rewrite(rewrite(dialect(s)))`
byte for byte. The inputs are the DuckDB oracle texts of the query
registry, every string literal passed as the first argument of `.sql(`
in `tests/*.py`, and the targeted scanner cases in `TARGETED` below
(string literals holding backslash escapes, doubled quotes, parens,
commas and clause keywords).

The rewrite tiers keep module state (SET lc_time_names, encrypt keys,
DDL type hints), so the corpus is replayed in its committed order in a
fresh interpreter. No Spark session is started.

Regenerate (only when a rewrite is meant to change, and say which
entries changed and why):

    python tests/test_rewrite_corpus.py --write
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.path.join(ROOT, "tests", "data", "rewrite_corpus.jsonl")

# One input per text scanner of the rewrite tiers and of Engine's
# statement helpers, each with a backslash-escaped quote beside the
# characters that scanner acts on, plus a doubled-quote twin.
TARGETED = [
    # brackets: array literal vs subscript
    r"SELECT [1, 2], 'a[1]\'s', x[1] FROM t",
    r"SELECT [1, 2], 'a[1]''s', x[1] FROM t",
    # CAST(.. AS DATETIME / TIME)
    r"SELECT CAST('it\'s (' AS DATETIME), CAST(a AS TIME) FROM t",
    r"SELECT CAST('2024-01-01 10:00:00' AS DATETIME(3)), CAST(')''' AS TIME) FROM t",
    # timediff scale
    r"SELECT timediff(CAST('a\', b' AS DATETIME(3)), CAST(d AS DATE)) FROM t",
    # GROUP BY k DESC
    r"SELECT k, count(*) FROM t WHERE s = 'x\' limit' GROUP BY k DESC, concat(a, 'b)\'') ASC",
    r"SELECT k, count(*) FROM t GROUP BY k DESC, concat(a, 'b)''') ASC LIMIT 3",
    # unquoted non-ASCII identifiers
    "SELECT 列名, '列\\'名', `列` FROM t",
    # NULL subscript
    r"SELECT map_agg(k, 'v)\'')[NULL], m[NULL], '[NULL]' FROM t",
    # RIGHT SEMI / ANTI JOIN
    r"SELECT id FROM a right semi join b on a.id = b.id AND b.s = 'x\' on ('",
    r"SELECT id FROM a right anti join (SELECT id FROM b WHERE s = ')\'') b2 on a.id = b2.id",
    # HAVING without GROUP BY
    r"SELECT date_format(d, '%Y\'s, %m') AS d, t.a AS b FROM t HAVING d = 'x\' group' ORDER BY t.a",
    r"SELECT a, row_number() OVER (ORDER BY a) AS r FROM t WHERE s = 'w\' where' HAVING a > 1",
    # QUALIFY
    r"SELECT a, row_number() OVER (PARTITION BY b ORDER BY c) AS rn FROM t WHERE s = 'q\' qualify' QUALIFY rn = 1 AND s <> ')\''",
    r"SELECT * FROM (SELECT a, b FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1 AND b <> 'x\' order by') s",
    # TIME(x)
    r"SELECT TIME('12:00\'s'), maketime(1, 2, 3), 'time(x)' FROM t",
    # IS [NOT] TRUE / FALSE
    r"SELECT 'x\' IS TRUE', 1 IS TRUE, (a > 'b\'') IS NOT FALSE FROM t",
    # comma-join precedence
    r"SELECT * FROM a, b JOIN c ON b.id = c.id AND c.s = 'x\', d' WHERE a.id = b.id",
    # brace map / struct literals
    r"SELECT {'k\'s': 1, 'b': {2, 'c}\''}}, '{\"a\": 1}' FROM t",
    r"SELECT {'k''s': 1, 'b': 2}, {1, 'x, y'} FROM t",
    # CAST to complex types from JSON text
    r"SELECT CAST('[1, 2]' AS ARRAY<INT>), CAST('{\"a\\'\": 1}' AS MAP<STRING,INT>) FROM t",
    # integer subscripts and slices
    r"SELECT arr[1], 'x[2]\'s[3]', arr[1:2], split(s, '\'')[2] FROM t",
    r"SELECT arr[0], 'y[1:2]''s', arr[2:] FROM t",
    # unix_timestamp with a MySQL format
    r"SELECT unix_timestamp(concat(d, ' \'x, y'), '%Y-%m-%d') FROM t",
    # [NOT] IN (subquery) in a projection
    r"SELECT a IN (SELECT b FROM u WHERE s = 'x\' from y') AS f FROM t",
    r"SELECT a NOT IN (SELECT b FROM u WHERE c = 'where\' group') AS f FROM t",
    r"SELECT t.a FROM t JOIN v ON v.a IN (SELECT b FROM u WHERE s = ''')''') AND v.b = t.b",
    # array_flatten nesting depth
    r"SELECT array_flatten([[1, 2], [3]]), array_flatten(array(array('[\'', ']'))) FROM t",
    # LATERAL VIEW over a Python UDTF
    r"SELECT * FROM t LATERAL VIEW explode_split(s, ',\')') tmp AS e",
    # aggregate macro with OVER distributed into its expansion
    r"SELECT stddev_samp(x) OVER (PARTITION BY k ORDER BY 'a\')'), corr(x, y) FROM t",
    # ASOF JOIN
    r"SELECT * FROM t ASOF JOIN q ON t.k = q.k AND t.ts >= q.ts AND q.s = 'a\' and b'",
    r"SELECT * FROM t ASOF LEFT JOIN q MATCH_CONDITION(t.ts >= q.ts) ON t.k = q.k AND q.note <> ')\''",
    # MV rewrite conjuncts
    r"SELECT k, sum(v) FROM t WHERE a = 'x\' and y' AND b = 1 GROUP BY k",
    # typed avg sites
    r"SELECT avg(CAST(x AS DECIMAL(10,2))), 'avg(\')' FROM t",
    # recursive CTE with plain UNION
    r"WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 3 AND ')\'' <> '') SELECT * FROM r",
    # Engine statement helpers (DML, VALUES, * REPLACE, CTE aliases)
    r"UPDATE t SET note = 'it\'s where x', v = concat(v, ',') WHERE id = 1",
    r"DELETE FROM t WHERE note = 'a\' and b'",
    r"INSERT INTO t VALUES (1, 'a\')b'), (2, 'c''d')",
    r"SELECT * REPLACE (concat(a, ')\'') AS a) FROM t",
    r"WITH c (x) AS (SELECT ')\'' AS a, 1 AS b) SELECT * FROM c",
    r"SELECT k, sum(v) FROM t GROUP BY GROUPING SETS ((k), ()) HAVING k > ')\''",
]


def _test_sql_literals() -> list[tuple[str, str]]:
    """(file:digest, text) for each string literal passed first to `.sql(`
    in tests/*.py, in file then source order. The id is keyed by the
    text, not its line, so an edit elsewhere in a file renames nothing; a
    text repeated in one file gets `#2`, `#3`, ... in source order."""
    out = []
    tests_dir = os.path.join(ROOT, "tests")
    for fname in sorted(os.listdir(tests_dir)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(tests_dir, fname), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        found = []
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "sql"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, str)
            ):
                found.append((node.lineno, node.col_offset, node.args[0].value))
        seen: dict[str, int] = {}
        for _ln, _c, s in sorted(found):
            key = f"{fname}:{hashlib.md5(s.encode()).hexdigest()[:10]}"
            seen[key] = seen.get(key, 0) + 1
            out.append((key if seen[key] == 1 else f"{key}#{seen[key]}", s))
    return out


def corpus_inputs() -> list[tuple[str, str]]:
    """(id, sql) for every corpus input, in replay order."""
    from doris_spark import queries as Q

    Q.load_all()
    out = [(f"oracle:{name}", Q.ORACLES[name]) for name in sorted(Q.ORACLES)]
    out += [(f"test:{where}", s) for where, s in _test_sql_literals()]
    out += [(f"targeted:{i}", s) for i, s in enumerate(TARGETED)]
    return out


def rewrite_all(inputs: list[str]) -> list[dict]:
    """The three tier outputs for each input, in order (an exception
    is recorded as `error: <type>` in place of the output)."""
    from doris_spark.plans.dialect import dialect
    from doris_spark.plans.sql_macros import rewrite
    from doris_spark.plans.typed_arith import arith_rewrite

    out = []
    for s in inputs:
        rec = {}
        try:
            rec["dialect"] = dialect(s)
            rec["rewrite"] = rewrite(rec["dialect"])
            rec["arith"] = arith_rewrite(rec["rewrite"])
        except Exception as e:  # noqa: BLE001 — pinned as data
            rec["error"] = type(e).__name__
        out.append(rec)
    return out


def _load() -> list[dict]:
    with open(CORPUS, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def test_rewrite_corpus_is_byte_identical():
    entries = _load()
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--replay"],
        input=json.dumps([e["input"] for e in entries]),
        capture_output=True, text=True, cwd=ROOT, timeout=600, check=True,
    )
    got = json.loads(proc.stdout)
    assert len(got) == len(entries)
    diffs = []
    for e, g in zip(entries, got):
        want = {k: e[k] for k in ("dialect", "rewrite", "arith", "error") if k in e}
        if g != want:
            diffs.append((e["id"], e["input"], want, g))
    assert not diffs, f"{len(diffs)} corpus entries changed; first: {diffs[0]}"


def test_corpus_covers_every_targeted_case():
    ids = {e["id"] for e in _load()}
    assert {f"targeted:{i}" for i in range(len(TARGETED))} <= ids


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    if sys.argv[1:] == ["--replay"]:
        json.dump(rewrite_all(json.load(sys.stdin)), sys.stdout)
    elif sys.argv[1:] == ["--write"]:
        ids, texts = zip(*corpus_inputs())
        with open(CORPUS, "w", encoding="utf-8") as fh:
            for i, s, rec in zip(ids, texts, rewrite_all(list(texts))):
                fh.write(json.dumps({"id": i, "input": s, **rec}, ensure_ascii=False) + "\n")
    else:
        sys.exit("usage: test_rewrite_corpus.py --write | --replay")
