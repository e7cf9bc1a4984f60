"""DECIMAL256 constant-cast folding — int256 casts beyond Spark's
DECIMAL(38) ceiling, evaluated driver-side at full precision.

Doris's DECIMALV3 goes to precision 76 (decimal256,
be/src/core/data_type/define_primitive_type.h); Spark's decimal stops
at 38. TABLE data beyond 38 digits stays a documented platform
narrowing — but the reference's enormous cast-conformance matrices
(function_p0/cast/*_decimal256_*_const.groovy, ~3,000 golden cases) are
pure CONSTANT expressions: `cast(cast("<literal>" as decimalv3(p1,s1))
as decimalv3(76,38))`. Those the engine folds exactly, the same way the
FE's constant folder would, using Python's arbitrary-precision Decimal:

- string -> decimal: full parse incl. scientific notation, HALF_UP
  rounding to the target scale, overflow -> NULL (non-strict) or
  left unfolded (strict mode errors; `SET enable_strict_cast` is
  tracked as a session conf)
- decimal -> decimal rescale, decimal -> integer (tinyint..largeint
  int128 bounds) with TRUNCATION from every source, fractional strings
  included — the BE cast table truncates, verified against
  to_int/from_str/test_cast_to_bigint_from_str_with_fraction_const.out
  ('+0000.5' -> 0, '+0001.5' -> 1)
- decimal/string -> double/float (float32 via numpy), parsing the C
  spellings of nan and inf ('-nan', 'inf')

The fold replaces the select item with a TYPED literal where Spark
has the type (CAST(1 AS INT), CAST('NaN' AS DOUBLE), DECIMAL(p<=38));
only values Spark cannot type (decimal p>38, largeint beyond int64)
become their rendered string (scale digits always shown, '-0'
normalized to '0'). Only select items that fold_worthy flags are
touched; anything non-literal is left unfolded.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation, getcontext

getcontext().prec = 200


class _NoFold(Exception):
    pass


_NULL = object()

_CAST_HEAD = re.compile(r"^\s*cast\s*\(", re.I)
_TYPE_TAIL = re.compile(
    r"\s+as\s+(\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*\)\s*$", re.I)
_STR_LIT = re.compile(r"^\s*(?:'((?:[^'\\]|\\.)*)'|\"((?:[^\"\\]|\\.)*)\")\s*$")
_NUM_LIT = re.compile(r"^\s*-?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?\s*$")

_INT_BOUNDS = {
    "tinyint": 7, "smallint": 15, "int": 31, "integer": 31,
    "bigint": 63, "largeint": 127,
}


def _eval(expr: str, strict: bool):
    """Evaluate a constant cast chain; returns ('dec', Decimal, p, s) |
    ('str', s) | ('double', f) | ('float', f) | ('int', v) | _NULL.
    Raises _NoFold when not a foldable constant."""
    m = _STR_LIT.match(expr)
    if m is not None:
        return ("str", m.group(1) if m.group(1) is not None else m.group(2))
    if _NUM_LIT.match(expr):
        return ("dec", Decimal(expr.strip()), None, None)
    if _CAST_HEAD.match(expr) is None:
        raise _NoFold()
    tm = _TYPE_TAIL.search(expr)
    if tm is None:
        raise _NoFold()
    inner = expr[_CAST_HEAD.match(expr).end(): tm.start()]
    # the inner expr must itself be balanced (reject cast(a)||cast(b))
    depth = 0
    for c in inner:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth < 0:
            raise _NoFold()
    if depth != 0:
        raise _NoFold()
    v = _eval(inner, strict)
    t = re.sub(r"\s+", "", tm.group(1).lower())
    dm = re.match(r"decimal(?:v3)?\((\d+)(?:,(\d+))?\)$", t)
    if dm is not None:
        return _to_decimal(v, int(dm.group(1)), int(dm.group(2) or 0),
                           strict)
    if t in ("string", "text") or t.startswith(("varchar", "char")):
        if v is _NULL:
            return _NULL
        if v[0] in ("double", "float") and (
            math.isnan(v[1]) or math.isinf(v[1])
        ):
            # float -> STRING renders the Java spellings (the bare
            # float VALUE render keeps the C spellings 'inf'/'-nan')
            if math.isnan(v[1]):
                return ("str", "NaN")
            return ("str", "Infinity" if v[1] > 0 else "-Infinity")
        return ("str", _render(v))
    if t == "double":
        return _to_float(v, strict, double=True)
    if t == "float":
        return _to_float(v, strict, double=False)
    base = re.sub(r"\(.*", "", t)
    if base in _INT_BOUNDS:
        return _to_int(v, _INT_BOUNDS[base], strict)
    raise _NoFold()


def _as_decimal(v, strict: bool):
    if v is _NULL:
        return _NULL
    kind = v[0]
    if kind == "dec":
        return v[1]
    if kind == "str":
        s = v[1].strip()
        try:
            d = Decimal(s)
        except InvalidOperation:
            if strict:
                raise _NoFold() from None
            return _NULL
        if d.is_nan() or d.is_infinite():
            if strict:
                raise _NoFold()
            return _NULL
        return d
    if kind in ("double", "float"):
        f = v[1]
        if math.isnan(f) or math.isinf(f):
            if strict:
                raise _NoFold()
            return _NULL
        return Decimal(repr(f))
    if kind == "int":
        return Decimal(v[1])
    raise _NoFold()


def _to_decimal(v, p: int, s: int, strict: bool):
    d = _as_decimal(v, strict)
    if d is _NULL:
        return _NULL
    q = d.quantize(Decimal(1).scaleb(-s), rounding=ROUND_HALF_UP)
    if abs(q) >= Decimal(1).scaleb(p - s):
        if strict:
            raise _NoFold()  # strict-mode cast overflow is an ERROR
        return _NULL
    return ("dec", q, p, s)


def _to_int(v, bits: int, strict: bool):
    lim = 1 << bits
    if v is _NULL:
        return _NULL
    d = _as_decimal(v, strict)
    if d is _NULL:
        return _NULL
    d = d.to_integral_value(rounding="ROUND_DOWN")
    iv = int(d)
    if not (-lim <= iv < lim):
        if strict:
            raise _NoFold()
        return _NULL
    return ("int", iv)


def _to_float(v, strict: bool, double: bool):
    if v is _NULL:
        return _NULL
    if v[0] == "str":
        s = v[1].strip()
        try:
            f = float(s)
        except ValueError:
            if strict:
                raise _NoFold() from None
            return _NULL
    elif v[0] == "dec":
        f = float(v[1])
    elif v[0] in ("double", "float"):
        f = v[1]
    elif v[0] == "int":
        f = float(v[1])
    else:
        raise _NoFold()
    if not double:
        try:
            import numpy as np

            f = float(np.float32(f))
        except Exception:
            pass
    return ("double" if double else "float", f)


def _render(v) -> str:
    if v[0] == "str":
        return v[1]
    if v[0] == "dec":
        d, _p, s = v[1], v[2], v[3]
        if d == 0:
            d = abs(d)  # '-0' renders unsigned
        if s is None:
            return str(d)
        return f"{d:.{s}f}" if s else str(int(d))
    if v[0] == "int":
        return str(v[1])
    if v[0] in ("double", "float"):
        # nan/inf never get here: _eval's STRING target renders them
        # itself and _typed_emit emits them as typed literals
        f = v[1]
        if v[0] == "float":
            try:
                import numpy as np

                return repr(np.float32(f)).rstrip(")").split("(")[-1]
            except Exception:
                pass
        r = repr(f)
        return r[:-2] if r.endswith(".0") else r
    raise _NoFold()


_P_GT38 = re.compile(r"(?i)decimal(?:v3)?\s*\(\s*(\d+)")
_INT_TARGET = re.compile(
    r"(?i)\bas\s+(?:tinyint|smallint|int|integer|bigint|largeint)\s*\)")
_DEC_TARGET = re.compile(r"(?i)\bas\s+decimal(?:v3)?\s*\(")
_NANINF_FLOAT = re.compile(
    r"(?i)\bas\s+(?:float|double)\s*\)")
_NANINF_LIT = re.compile(r"(?i)['\"]\s*-?\s*(nan|inf)")


def has_decimal256(text: str) -> bool:
    return any(int(m.group(1)) > 38 for m in _P_GT38.finditer(text))


def fold_worthy(text: str) -> bool:
    """Statements this folder should attempt: decimal256 anywhere, a
    cast chain targeting an integer type (Doris truncates fractional
    strings and NULLs overflow where Spark errors/clamps), a string ->
    decimal cast (>38-significant-digit literals NULL in Spark even
    when the VALUE fits), or a nan/inf string -> float/double cast
    (Doris parses the C spellings incl '-nan')."""
    if not re.search(r"(?i)\bcast\s*\(", text):
        return False
    return (
        has_decimal256(text)
        or _INT_TARGET.search(text) is not None
        or _DEC_TARGET.search(text) is not None
        or (_NANINF_FLOAT.search(text) is not None
            and _NANINF_LIT.search(text) is not None)
    )


_SPARK_TYPE = {
    "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INT",
    "integer": "INT", "bigint": "BIGINT", "double": "DOUBLE",
    "float": "FLOAT",
}


def _typed_emit(it: str, v) -> str:
    """Render a folded value as a TYPED literal where a Spark type
    exists (engine-API path — schema must stay native); falls back to a
    string literal only where Spark has no type (largeint beyond BIGINT,
    decimal precision > 38)."""
    tm = _TYPE_TAIL.search(it.rstrip())
    t = re.sub(r"\s+", "", tm.group(1).lower()) if tm else ""
    base = re.sub(r"\(.*", "", t)
    dm = re.match(r"decimal(?:v3)?\((\d+)(?:,(\d+))?\)$", t)
    if v is _NULL:
        if base in _SPARK_TYPE:
            return f"CAST(NULL AS {_SPARK_TYPE[base]})"
        if dm and int(dm.group(1)) <= 38:
            return f"CAST(NULL AS DECIMAL({dm.group(1)},{dm.group(2) or 0}))"
        return "CAST(NULL AS STRING)"
    kind = v[0]
    if kind == "int" and base in _SPARK_TYPE:
        lo, hi = -(1 << 63), (1 << 63) - 1
        if lo <= v[1] <= hi:
            return f"CAST({v[1]} AS {_SPARK_TYPE[base]})"
    if kind == "dec" and v[2] is not None and v[2] <= 38:
        return f"CAST('{_render(v)}' AS DECIMAL({v[2]},{v[3]}))"
    if kind in ("double", "float"):
        f = v[1]
        if math.isnan(f):
            s = "NaN"
        elif math.isinf(f):
            s = "Infinity" if f > 0 else "-Infinity"
        else:
            s = repr(f)
        return f"CAST('{s}' AS {'DOUBLE' if kind == 'double' else 'FLOAT'})"
    lit = _render(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{lit}'"


def fold_const_dec256(text: str, strict: bool) -> str | None:
    """Fold every foldable constant cast chain (fold_worthy) in the
    top-level select list into a typed literal, so the result keeps
    its native Spark type; returns the rewritten statement or None."""
    m = re.match(r"(?is)^\s*select\s+(.*?)\s*;?\s*$", text)
    if m is None:
        return None
    from doris_spark.plans.sqltok import split_args_top

    body = m.group(1)
    # no FROM/WHERE: pure constant select only
    if re.search(r"(?i)\bfrom\b", body):
        return None
    items = split_args_top(body)
    out = []
    changed = False
    for raw in items:
        # split an optional trailing alias (cast(...) AS v / cast(...) v)
        it, alias = raw, ""
        am = re.match(r"(?is)^(.*\))\s+(?:AS\s+)?(`?\w+`?)\s*$", raw)
        if am is not None:
            it, alias = am.group(1), " AS " + am.group(2)
        if (has_decimal256(it) or _INT_TARGET.search(it)
                or _DEC_TARGET.search(it)
                or (_NANINF_FLOAT.search(it)
                    and _NANINF_LIT.search(it))):
            try:
                v = _eval(it, strict)
                out.append(_typed_emit(it, v) + alias)
                changed = True
                continue
            except _NoFold:
                pass
        out.append(raw)
    if not changed:
        return None
    return "SELECT " + ", ".join(out)
