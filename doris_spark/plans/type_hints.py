"""Doris column-type hints for text-level macro expansion.

Spark's TimestampType carries no scale, but Doris DATETIMEV2(n) renders
with exactly n fractional digits ('2012-03-01 01:00:01.000000' for
n=6) — information that lives only in the Doris DDL. The Engine's
schema-change path (plans/schema_change.py) registers each column's
declared Doris type here, and scale-sensitive string macros
(array_join over array<datetimev2(n)> — pinned by
nereids_function_p0/scalar_function/Array.groovy) consult it by bare
column name. A name declared with CONFLICTING types across tables is
dropped (conservative: the macro falls back to Spark's rendering).
"""

from __future__ import annotations

import re

COLUMN_TYPES: dict[str, str] = {}
_CONFLICT: set[str] = set()


def lookup(key: str) -> str | None:
    """Column-type lookup by bare name; names in _CONFLICT return None
    (conservative)."""
    k = str(key).strip("`").lower()
    if k in _CONFLICT:
        return None
    return COLUMN_TYPES.get(k)


def register_columns(cols) -> None:
    """cols: iterable of (name, doris_type_string)."""
    for name, typ in cols:
        key = str(name).strip("`").lower()
        t = re.sub(r"\s+", "", str(typ).lower())
        old = COLUMN_TYPES.get(key)
        if old is not None and old != t:
            _CONFLICT.add(key)
        COLUMN_TYPES[key] = t


def array_datetime_scale(expr: str) -> int | None:
    """If `expr` is a bare column declared array<datetimev2(n)> /
    array<datetime(n)> with n > 0, return n."""
    key = expr.strip().strip("`").lower()
    if not re.fullmatch(r"[a-z_]\w*", key):
        return None
    t = lookup(key)
    if t is None:
        return None
    m = re.fullmatch(r"array<datetime(?:v2)?\((\d)\)>", t)
    if m and int(m.group(1)) > 0:
        return int(m.group(1))
    return None
