"""Typed post-analysis fixups — semantics only decidable from types.

A text-only dialect layer cannot see argument types; these rules need
the ANALYZED plan. Engine.sql runs a two-pass scheme: analyze the
macro-rewritten statement once, walk the analyzed plan collecting a
map of {normalized expression SQL -> Spark type}, then rewrite the
affected textual call sites and re-analyze. Any failure falls back to
the first analysis (plain Spark semantics).

Rules:

1. avg(DECIMAL(p, s<4)) — Doris returns DECIMAL128(38, max(s,4)) with
   the BE's int128 division TRUNCATING toward zero (fe/fe-core/.../
   functions/agg/Avg.java:88-108, fe/fe-type/.../ScalarType.java:82);
   Spark returns decimal(p+4, s+4) HALF_UP (25.537587 vs Doris
   25.5375 — pinned by nereids_tpch_p0 q1). Rewritten to exact integer
   arithmetic: CAST((U - U % n) / n / 10000 AS DECIMAL(38,4)) with
   U = CAST(CAST(sum(x) AS DECIMAL(38,s)) * 10^4 AS DECIMAL(38,0)) and
   n = count(x); (U - U % n) is exactly divisible by n, so the decimal
   division is exact and truncation matches int128 division.

2. 2-arg date_add/date_sub — Doris returns DATE for DATE inputs and
   DATETIME otherwise (DateAdd.java computeSignature). The macro layer
   expands both to the TIMESTAMP form `CAST(x AS TIMESTAMP) ±
   make_interval(0,0,0,n)` (typed, so compositions like
   `date_add(d,1) + INTERVAL 1 DAY` keep working); this pass then
   narrows sites whose input is DATE back to Spark's date_add/date_sub
   (DATE-typed, date-only rendering in string contexts).
"""

from __future__ import annotations

import re

from doris_spark.plans.sqltok import find_close, in_spans, lit_spans

_AVG_TOKEN = re.compile(r"(?<![\w.$])avg\s*\(", re.I)
# the exact spelling sql_macros emits for 2-arg date_add/date_sub
_DATE_TOKEN = re.compile(
    r"\(CAST\(\((?=.)", re.I
)
_DECIMAL_T = re.compile(r"decimal\((\d+),(\d+)\)")


def _norm_arg(s: str) -> str:
    """Normalization shared by textual call-site arguments and the
    analyzed plan's expression.sql(): case/whitespace/backtick-folded,
    parens dropped, identifier qualifiers (alias., db.table.) stripped."""
    s = s.strip().lower().replace("`", "")
    # iterate to a fixpoint: catalog.db.table.col sheds one qualifier
    # per pass (the lookbehind blocks mid-chain matches)
    while True:
        s2 = re.sub(r"(?<![\d.])\b[a-z_][\w$]*\.(?=[a-z_])", "", s)
        if s2 == s:
            break
        s = s2
    s = re.sub(r"\s+", "", s)
    return s.replace("(", "").replace(")", "")


def _collect_expr_types(jdf) -> dict[str, str]:
    """Walk the analyzed plan (plans, their expressions, and subquery
    plans inside expressions) collecting {normalized expr SQL ->
    dataType.simpleString()}. Same-text expressions with conflicting
    types are dropped (conservative skip)."""
    out: dict[str, str] = {}
    dead: set[str] = set()
    stack = [jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
        try:
            exprs = node.expressions()
        except Exception:
            continue
        estack = [exprs.apply(i) for i in range(exprs.length())]
        while estack:
            e = estack.pop()
            cls = e.getClass().getName()
            if cls.endswith("ScalarSubquery") or cls.endswith(
                "ListQuery"
            ) or cls.endswith("Exists") or cls.endswith("LateralSubquery"):
                try:
                    stack.append(e.plan())
                except Exception:
                    pass
            try:
                key = _norm_arg(e.sql())
                t = e.dataType().simpleString()
                if key in out and out[key] != t:
                    dead.add(key)
                out[key] = t
            except Exception:
                pass
            ec = e.children()
            for i in range(ec.length()):
                estack.append(ec.apply(i))
    for k in dead:
        out.pop(k, None)
    return out


def _avg_sites(stmt: str, lits):
    """(start, end, arg, distinct, windowed) for textual avg(...) calls."""
    for m in _AVG_TOKEN.finditer(stmt):
        if in_spans(lits, m.start()):
            continue
        end = find_close(stmt, m.end() - 1) + 1
        if end > len(stmt):
            return
        arg = stmt[m.end() : end - 1]
        dm = re.match(r"\s*DISTINCT\b", arg, re.I)
        distinct = dm is not None
        if distinct:
            arg = arg[dm.end() :]
        windowed = re.match(r"\s*over\b", stmt[end:], re.I) is not None
        yield m.start(), end, arg.strip(), distinct, windowed


def _avg_formula(arg: str, distinct: bool, s: int) -> str:
    d = "DISTINCT " if distinct else ""
    # sum * 10^4 is integral for s <= 4, so the DECIMAL(38,0) cast is
    # exact and (U - U % n) / n is the truncated scale-4 quotient
    u = (
        f"CAST(CAST(sum({d}{arg}) AS DECIMAL(38,{s})) * 10000 "
        f"AS DECIMAL(38,0))"
    )
    n = f"CAST(count({d}{arg}) AS DECIMAL(20,0))"
    return f"CAST(({u} - ({u} % {n})) / {n} / 10000 AS DECIMAL(38,4))"


_DATE_SITE = re.compile(
    r"\(CAST\(\(", re.I
)
_DATE_TAIL = re.compile(
    r"\s*AS\s+TIMESTAMP\s*\)\s*([+-])\s*make_interval\(0,\s*0,\s*0,\s*CAST\(\(",
    re.I,
)


def _date_sites(stmt: str, lits):
    """Sites of the macro layer's 2-arg date_add/date_sub expansion:
    `(CAST((ARG) AS TIMESTAMP) ± make_interval(0, 0, 0, CAST((N) AS
    INT)))` — yields (start, end, arg, n, op)."""
    for m in _DATE_SITE.finditer(stmt):
        if in_spans(lits, m.start()):
            continue
        arg_end = find_close(stmt, m.end() - 1) + 1
        if arg_end > len(stmt):
            continue
        tm = _DATE_TAIL.match(stmt, arg_end)
        if tm is None:
            continue
        n_end = find_close(stmt, tm.end() - 1) + 1
        if n_end > len(stmt):
            continue
        rest = re.match(r"\s*AS\s+INT\s*\)\s*\)\s*\)", stmt[n_end:], re.I)
        if rest is None:
            continue
        yield (
            m.start(),
            n_end + rest.end(),
            stmt[m.end() : arg_end - 1],
            stmt[tm.end() : n_end - 1],
            tm.group(1),
        )


_DATE_NUM_CMP = re.compile(
    r"(?<![\w.$'])([\w.`]+)\s*(=|<=|>=|<|>|<>|!=)\s*(\d{8}|\d{14})(?![\d.\w])"
    r"|(?<![\w.$'])([\w.`]+)\s+BETWEEN\s+(\d{8}|\d{14})\s+AND\s+(\d{8}|\d{14})(?![\d.\w])",
    re.I,
)


def _num_to_dt_literal(n: str) -> str | None:
    """20221111 -> DATE'2022-11-11'; 20221111093000 -> TIMESTAMP'...'.
    None when the digits are not a plausible datetime."""
    if not (1 <= int(n[4:6]) <= 12 and 1 <= int(n[6:8]) <= 31):
        return None
    d = f"{n[:4]}-{n[4:6]}-{n[6:8]}"
    if len(n) == 8:
        return f"DATE'{d}'"
    if not (int(n[8:10]) < 24 and int(n[10:12]) < 60 and int(n[12:14]) < 60):
        return None
    return f"TIMESTAMP'{d} {n[8:10]}:{n[10:12]}:{n[12:14]}'"


def _date_cmp_sites(stmt: str, lits):
    """Comparisons of an identifier against an 8/14-digit integer
    literal (the MySQL/Doris date-number coercion: `d BETWEEN 20221111
    AND 20221113` matches DATE rows — Spark instead casts the int to
    DATE, yielding NULL). Yields (start, end, ident, [(numstart,
    numend, digits), ...])."""
    for m in _DATE_NUM_CMP.finditer(stmt):
        if in_spans(lits, m.start()):
            continue
        if m.group(1) is not None:
            yield m.start(), m.end(), m.group(1), [
                (m.start(3), m.end(3), m.group(3))
            ]
        else:
            yield m.start(), m.end(), m.group(4), [
                (m.start(5), m.end(5), m.group(5)),
                (m.start(6), m.end(6), m.group(6)),
            ]


def doris_typed_fixup(spark, stmt: str, df) -> str | None:
    """Return a rewritten statement applying the typed rules above, or
    None when no call site needs (or safely admits) a rewrite."""
    lits = lit_spans(stmt)
    avg_sites = (
        list(_avg_sites(stmt, lits)) if _AVG_TOKEN.search(stmt) else []
    )
    date_sites = (
        list(_date_sites(stmt, lits))
        if "make_interval(0, 0, 0, CAST((" in stmt
        else []
    )
    cmp_sites = list(_date_cmp_sites(stmt, lits))
    if not avg_sites and not date_sites and not cmp_sites:
        return None
    try:
        types = _collect_expr_types(df._jdf)
    except Exception:
        return None

    edits: list[tuple[int, int, str]] = []
    for start, end, arg, distinct, windowed in avg_sites:
        t = types.get(_norm_arg(arg))
        dm = _DECIMAL_T.fullmatch(t or "")
        if windowed or dm is None:
            continue
        s = int(dm.group(2))
        if 0 <= s < 4:
            edits.append((start, end, _avg_formula(arg, distinct, s)))
    for start, end, arg, n, op in date_sites:
        if types.get(_norm_arg(arg)) == "date":
            fn = "date_add" if op == "+" else "date_sub"
            edits.append(
                (start, end, f"{fn}(({arg}), CAST(({n}) AS INT))")
            )
    for _start, _end, ident, nums in cmp_sites:
        t = types.get(_norm_arg(ident))
        if t not in ("date", "timestamp") and not (t or "").startswith(
            "timestamp"
        ):
            continue
        for ns, ne, digits in nums:
            lit = _num_to_dt_literal(digits)
            if lit is not None:
                edits.append((ns, ne, lit))
    if not edits:
        return None
    edits.sort()
    out, pos = [], 0
    for start, end, repl in edits:
        if start < pos:
            continue  # overlapping (nested) edits: keep the outer one
        out.append(stmt[pos:start])
        out.append(repl)
        pos = end
    out.append(stmt[pos:])
    return "".join(out)


# Backwards-compat name used by earlier round-7 commits/tests
def doris_avg_fixup(spark, stmt: str, df):
    return doris_typed_fixup(spark, stmt, df)
