"""Local mirror of the driver's DuckDB-oracle correctness check.

Runs a Spark DataFrame and a DuckDB SQL string over the same parquet
fixtures, canonicalizes values (columns sorted by name, rows sorted,
doubles rounded to 12 significant digits — FIXTURES.md harness
conventions), and diffs. The value diff ignores row order, so `compare`
also checks that the Spark rows follow the oracle text's final ORDER BY
(`order_keys`).
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from decimal import Decimal

import duckdb

from doris_spark.plans.sqltok import depth0_search, split_top

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _round_sig(x: float, sig: int = 12):
    if x == 0 or not math.isfinite(x):
        return x
    return round(x, sig - 1 - int(math.floor(math.log10(abs(x)))))


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return _round_sig(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon_rows(col_names, rows):
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return sorted(c for c in col_names), out


_ORDER_BY = re.compile(r"\bORDER\s+BY\b", re.I)
_LIMIT_TAIL = re.compile(r"\s+LIMIT\s+\d+(?:\s+OFFSET\s+\d+)?\s*;?\s*$", re.I)
_SORT_KEY = re.compile(
    r"\s*(?:(\w+)\.)?(`?)(\w+)\2(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$", re.I
)
_SELECT = re.compile(r"\bSELECT\b", re.I)
_FROM = re.compile(r"\bFROM\b", re.I)
_PASSTHROUGH = re.compile(r"\s*(?:DISTINCT\s+)?(\w+\.(\w+))(?:\s+(?:AS\s+)?(\w+))?\s*", re.I)


def _passthrough_columns(sql: str, end: int) -> set[str]:
    """The qualified columns (`a.rev`) that the last top-level SELECT list
    before `end` outputs unchanged under their own names, lower-cased."""
    sel, pos = None, 0
    while (m := depth0_search(sql, _SELECT, pos)) is not None and m.start() < end:
        sel, pos = m, m.end()
    frm = sel and depth0_search(sql, _FROM, sel.end())
    if frm is None:
        return set()
    out = set()
    for item in split_top(sql[sel.end():frm.start()].replace("`", "")):
        m = _PASSTHROUGH.fullmatch(item)
        if m is not None and (m.group(3) or m.group(2)).lower() == m.group(2).lower():
            out.add(m.group(1).lower())
    return out


def order_keys(sql: str, columns: list[str]) -> list[tuple[str, bool, bool]] | None:
    """The sort keys of the top-level ORDER BY that ends `sql` (a LIMIT
    may follow), as (column name, descending, nulls first). Each key must
    be an ordinal or the name of one of `columns`, the text's output
    columns. A key qualified by a table alias (`a.rev`) names an input
    column, so it counts only when the SELECT list outputs that column
    unchanged (`a.rev` or `a.rev AS rev`). Otherwise, or when the text
    ends in no such ORDER BY, None. Nulls sort first ascending and last
    descending unless the key says otherwise (Spark's default)."""
    last, pos = None, 0
    while (m := depth0_search(sql, _ORDER_BY, pos)) is not None:
        last, pos = m, m.end()
    if last is None:
        return None
    lower = [c.lower() for c in columns]
    keys = []
    for item in split_top(_LIMIT_TAIL.sub("", sql[last.end():])):
        m = _SORT_KEY.fullmatch(item)
        if m is None:
            return None
        qual, ref = m.group(1), m.group(3)
        if qual is not None and f"{qual}.{ref}".lower() not in _passthrough_columns(sql, last.start()):
            return None
        if ref.isdigit():
            if not 1 <= int(ref) <= len(columns):
                return None
            name = columns[int(ref) - 1]
        elif ref.lower() in lower:
            name = columns[lower.index(ref.lower())]
        else:
            return None
        desc = (m.group(4) or "").upper() == "DESC"
        nulls = (m.group(5) or "").upper()
        keys.append((name, desc, nulls == "FIRST" if nulls else not desc))
    return keys


def _cmp(a, b) -> int:
    """-1, 0 or 1 for two non-null values; NaN sorts largest (Spark)."""
    a_nan = isinstance(a, float) and math.isnan(a)
    b_nan = isinstance(b, float) and math.isnan(b)
    if a_nan or b_nan:
        return a_nan - b_nan
    return (a > b) - (a < b)


def order_violation(columns: list[str], rows, keys) -> str | None:
    """The first adjacent pair of `rows` (with `columns`) that breaks the
    `order_keys` order, as a message; None when the rows are sorted."""
    lower = [c.lower() for c in columns]
    idx = [(lower.index(name.lower()), desc, nulls_first) for name, desc, nulls_first in keys]
    for n in range(1, len(rows)):
        prev, cur = rows[n - 1], rows[n]
        for i, desc, nulls_first in idx:
            a, b = prev[i], cur[i]
            if a is None or b is None:
                c = 0 if a is b else (-1 if a is None else 1) * (1 if nulls_first else -1)
            else:
                c = _cmp(a, b) * (-1 if desc else 1)
            if c:
                break
        if c > 0:
            return f"row {n} sorts before row {n - 1}:\n  {n - 1}: {prev}\n  {n}: {cur}"
    return None


def compare(spark_df, con, oracle_sql: str):
    """Return (ok, message). Mirrors driver: count + schema-names + values.
    The collected Spark rows must also follow the oracle text's final
    ORDER BY (`order_keys`), when it has one."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(oracle_sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    sc, sr = canon_rows(s_cols, s_rows)
    dc, dr = canon_rows(d_cols, d_rows)
    if sc != dc:
        return False, f"column mismatch: spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return False, f"row count mismatch: spark={len(sr)} duckdb={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        if a != b:
            return False, f"row {i} mismatch:\n  spark : {a}\n  duckdb: {b}"
    keys = order_keys(oracle_sql, d_cols)
    if keys:
        bad = order_violation(s_cols, s_rows, keys)
        if bad is not None:
            return False, f"row order ({keys}): {bad}"
    return True, f"ok ({len(sr)} rows)"
