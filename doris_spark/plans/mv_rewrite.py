"""Transparent materialized-view rewrite — SPJG containment.

Reference: the Nereids MV exploration rules
(fe/fe-core/.../nereids/rules/exploration/mv/
MaterializedViewProjectAggregateRule.java and friends; sync-rollup
selection in AggregateStrategies.java): an aggregate query over a base
table is answered from a materialized view whose (dims, partial
aggregates) CONTAIN the query — group-by columns a subset of the MV
dims, filters over dims only, every aggregate derivable from the MV's
partials by re-aggregation (sum->sum, count->sum, min->min, max->max,
avg->sum/count).

Spark-first: the MV is a parquet-backed table (streaming/mtmv.py) or
any registered view holding `SELECT dims..., partial_aggs FROM base
GROUP BY dims`. The rewrite is a pure-SQL transform in the Engine.sql
pipeline — the query keeps its text-level shape, only the FROM target
and aggregate expressions change, so Catalyst then plans a scan of the
(much smaller) MV with partition pruning / pushdown intact. At 100 TB
this is the difference between re-reading the fact table and reading a
few thousand rollup rows.

Containment is deliberately conservative: single-table FROM, no
subqueries, no DISTINCT aggregates, WHERE/GROUP BY/HAVING referencing
only MV dims (HAVING may also use rewritable aggregates). Anything
outside the contract passes through untouched.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from doris_spark.plans.sqltok import find_close, lit_spans, split_args_top, split_top

_AGG = re.compile(r"^(sum|count|min|max|avg)\s*\((.+)\)$", re.I | re.S)
# FROM accepts a single table or an equi-join chain
# (t1 JOIN t2 ON a = b [AND c = d] [JOIN ...]) for join-aware MVs.
_FROM_PAT = (
    r"[A-Za-z_]\w*"
    r"(?:\s+(?:INNER\s+)?JOIN\s+[A-Za-z_]\w*\s+ON\s+"
    r"[\w.]+\s*=\s*[\w.]+(?:\s+AND\s+[\w.]+\s*=\s*[\w.]+)*)*"
)
_SHAPE = re.compile(
    r"^\s*SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<from>" + _FROM_PAT + r")\s*"
    r"(?:\s+(?:AS\s+)?(?P<alias>[A-Za-z_]\w*))?"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>.*?))?"
    r"(?:\s+HAVING\s+(?P<having>.*?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<order>.*?))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*;?\s*$",
    re.I | re.S,
)
_RESERVED = {"where", "group", "having", "order", "limit"}
_AND = re.compile(r"(?<!\w)AND(?!\w)", re.I)


def _norm(e: str) -> str:
    """Canonical expression text: whitespace collapsed and case folded
    ONLY outside string literals — "status = 'a b'" must not normalize
    equal to "status = 'ab'" when matching MV where-conjuncts."""
    out, last = [], 0
    for a, b in lit_spans(e) + [(len(e), len(e))]:
        out.append(re.sub(r"[\s`]+", "", e[last:a]).lower())
        out.append(e[a:b])
        last = b
    return "".join(out)


def _norm_join(text: str) -> str:
    """Canonical form of a FROM clause: lowercased, single-spaced,
    INNER JOIN -> JOIN, each ON equality's sides sorted (a=b == b=a)."""
    t = re.sub(r"\s+", " ", text.strip().lower()).replace("`", "")
    t = re.sub(r"\binner join\b", "join", t)

    def fix(m: re.Match) -> str:
        a, b = sorted([m.group(1), m.group(2)])
        return f"{a} = {b}"

    return re.sub(r"([\w.]+)\s*=\s*([\w.]+)", fix, t)


def _split_conjuncts(text: str) -> list[str]:
    """Split a predicate on top-level AND (outside parens/strings)."""
    return [p.strip() for p in split_top(text, _AND) if p.strip()]


@dataclass
class MVDef:
    """A registered MV: `SELECT dims..., partials FROM base GROUP BY dims`.

    measures maps (fn, normalized_input_expr) -> mv partial column, e.g.
    ("sum", "o_totalprice") -> "sum_price"; count(*) registers as
    ("count", "*").
    """

    name: str
    base: str
    dims: set[str]
    measures: dict[tuple[str, str], str] = field(default_factory=dict)
    # Optional MV-side filter, stored as normalized conjuncts: the query
    # must repeat each of them verbatim (textual implication — the
    # conservative subset of Nereids' predicate compensation).
    where_conj: frozenset = frozenset()

    @classmethod
    def build(
        cls, name: str, base: str, dims, measures: dict[str, str],
        where: str | None = None,
    ) -> MVDef:
        m: dict[tuple[str, str], str] = {}
        for col, spec in measures.items():
            am = _AGG.match(spec.strip())
            if am is None:
                raise ValueError(f"measure {spec!r} is not fn(expr)")
            fn = am.group(1).lower()
            arg = _norm(am.group(2))
            if fn == "count" and arg in ("*", "1"):
                arg = "*"
            m[(fn, arg)] = col
        wc = frozenset(_norm(c) for c in _split_conjuncts(where)) if where else frozenset()
        return cls(name, _norm_join(base), {d.lower() for d in dims}, m, wc)


def _strip_alias(item: str) -> tuple[str, str | None]:
    m = re.search(r"\s+AS\s+(`?)([A-Za-z_]\w*)\1\s*$", item, re.I)
    if m:
        return item[: m.start()].strip(), m.group(2)
    return item.strip(), None


def _idents(expr: str) -> set[str]:
    """Bare identifiers in expr (lowercased, quotes stripped, function
    names excluded)."""
    out = set()
    clean = expr
    for a, b in reversed(lit_spans(expr)):
        clean = clean[:a] + clean[b:]
    for m in re.finditer(r"([A-Za-z_][\w.]*)\s*(\()?", clean):
        if m.group(2):  # function call
            continue
        out.add(m.group(1).lower().split(".")[-1])
    return out


_CAST_WRAP = re.compile(r"^CAST\s*\((.+)\s+AS\s+([A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*\)$", re.I | re.S)


def _rewrite_agg(expr: str, mv: MVDef) -> str | None:
    """Map one aggregate call to its re-aggregation over MV partials.

    A top-level CAST wrapper (``CAST(sum(x) AS DOUBLE)``) is transparent:
    the inner aggregate is rewritten against the MV partials and the cast
    re-applied to the re-aggregation — Nereids likewise sees through
    output-type coercions when matching MV measures."""
    cm = _CAST_WRAP.match(expr.strip())
    if cm is not None:
        inner = _rewrite_agg(cm.group(1).strip(), mv)
        if inner is not None:
            return f"CAST({inner} AS {cm.group(2)})"
        return None
    am = _AGG.match(expr.strip())
    if am is None:
        return None
    fn, arg = am.group(1).lower(), am.group(2).strip()
    if re.match(r"^\s*DISTINCT\b", arg, re.I):
        return None  # distinct aggs are not derivable from partials
    narg = _norm(arg)
    if fn == "count" and narg in ("*", "1"):
        col = mv.measures.get(("count", "*"))
        return f"sum(`{col}`)" if col else None
    if fn in ("sum", "count"):
        col = mv.measures.get((fn, narg))
        return f"sum(`{col}`)" if col else None
    if fn in ("min", "max"):
        col = mv.measures.get((fn, narg))
        return f"{fn}(`{col}`)" if col else None
    if fn == "avg":
        s = mv.measures.get(("sum", narg))
        c = mv.measures.get(("count", narg))
        if c is None:
            c = mv.measures.get(("count", "*"))  # valid only if arg NOT NULL;
            # conservative: require the exact count unless dims prove otherwise
            if c is not None and ("count", narg) not in mv.measures:
                return None
        if s and c:
            return f"(sum(`{s}`) / sum(`{c}`))"
    return None


def try_rewrite(sql: str, mvs: list[MVDef]) -> tuple[str, str] | None:
    """Attempt SPJG containment against each MV; returns (new_sql,
    mv_name) on the first hit, None when no MV contains the query."""
    m = _SHAPE.match(sql)
    if m is None:
        return None
    base = _norm_join(m.group("from"))
    if "(" in (m.group("select") or "") and not re.search(
        r"\b(sum|count|min|max|avg)\s*\(", m.group("select"), re.I
    ):
        return None
    for mv in mvs:
        if mv.base != base:
            continue
        out = _try_one(sql, m, mv)
        if out is not None:
            return out, mv.name
    return None


def _try_one(sql: str, m: re.Match, mv: MVDef) -> str | None:
    alias = m.group("alias")
    if alias and alias.lower() in _RESERVED:
        alias = None
    from_text = m.group("from")
    is_join = re.search(r"\bjoin\b", from_text, re.I) is not None
    if is_join:
        alias = None  # join-chain MVs take no table alias

    def unqualify(text: str) -> str:
        if not text:
            return text
        tables = re.findall(r"(?:^|\bjoin\s+)([A-Za-z_]\w*)", from_text, flags=re.I)
        pfx = [p for p in ([alias] + tables) if p]
        for p in pfx:
            text = re.sub(rf"\b{re.escape(p)}\s*\.\s*", "", text)
        return text

    group = unqualify(m.group("group") or "")
    where = unqualify(m.group("where") or "")
    having = unqualify(m.group("having") or "")
    order = unqualify(m.group("order") or "")
    select = unqualify(m.group("select"))

    group_cols = [_norm(g) for g in split_args_top(group)] if group else []
    if not group_cols:
        return None  # pure-scan queries are out of scope (SPJG only)
    if not set(group_cols) <= mv.dims:
        return None
    # Filter compensation: the query must repeat every MV-side conjunct
    # verbatim; leftover conjuncts become the residual WHERE and may only
    # touch dims (they evaluate against MV rows).
    q_conj = _split_conjuncts(where) if where else []
    if mv.where_conj:
        if not mv.where_conj <= {_norm(c) for c in q_conj}:
            return None
        residual = [c for c in q_conj if _norm(c) not in mv.where_conj]
    else:
        residual = q_conj
    for c in residual:
        if not _idents(c) <= mv.dims:
            return None
    where = " AND ".join(residual)

    new_select = []
    out_aliases: set[str] = set()
    for item in split_args_top(select):
        expr, out_alias = _strip_alias(item)
        if out_alias:
            out_aliases.add(out_alias.lower())
        if _norm(expr) in mv.dims or _norm(expr) in set(group_cols):
            new_select.append(item)
            continue
        ragg = _rewrite_agg(expr, mv)
        if ragg is None:
            # dim-only scalar expressions (e.g. substr(dim,1,4)) pass
            # through when every identifier is a dim
            if _idents(expr) <= mv.dims and not _AGG.match(expr.strip()):
                new_select.append(item)
                continue
            return None
        new_select.append(f"{ragg} AS {out_alias}" if out_alias else ragg)

    def rewrite_clause(text: str) -> str | None:
        """Rewrite aggregate calls inside HAVING/ORDER BY."""
        if not text:
            return text
        out = []
        i = 0
        pat = re.compile(r"\b(sum|count|min|max|avg)\s*\(", re.I)
        while i < len(text):
            mm = pat.search(text, i)
            if mm is None:
                out.append(text[i:])
                break
            s, e = mm.start(), find_close(text, mm.end() - 1) + 1
            out.append(text[i:s])
            r = _rewrite_agg(text[s:e], mv)
            if r is None:
                return None
            out.append(r)
            i = e
        joined = "".join(out)
        # residual bare identifiers must be dims or select-output aliases
        # (backticked MV partial columns come from _rewrite_agg — strip)
        residual = re.sub(r"`[^`]*`", "", joined)
        allowed = mv.dims | out_aliases | {
            "asc", "desc", "nulls", "first", "last", "and", "or", "not",
            "sum", "min", "max", "null", "true", "false",
        }
        if not _idents(residual) <= allowed:
            return None
        return joined

    new_having = rewrite_clause(having)
    if having and new_having is None:
        return None
    new_order = rewrite_clause(order)
    if order and new_order is None:
        return None

    parts = [f"SELECT {', '.join(new_select)}", f"FROM {mv.name}"]
    if where:
        parts.append(f"WHERE {where}")
    parts.append(f"GROUP BY {group}")
    if having:
        parts.append(f"HAVING {new_having}")
    if order:
        parts.append(f"ORDER BY {new_order}")
    if m.group("limit"):
        parts.append(f"LIMIT {m.group('limit')}")
    return "\n".join(parts)
