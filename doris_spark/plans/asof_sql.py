"""ASOF JOIN SQL syntax -> Spark SQL rewrite (scale-safe union+window).

Reference: Doris grammar `ASOF (LEFT|INNER)? JOIN`
(fe/fe-sql-parser/.../DorisParser.g4:1467-1468), join ops TJoinOp
ASOF_* 12-15 (gensrc/thrift/PlanNodes.thrift:1040-1063), probe impls
be/src/exec/operator/join/asof_left_inner_join_impl.cpp. Doc semantics:
regression-test/suites/doc/query-data/asof-join.md.groovy.

Spark has no ASOF join. The PRIMARY rewrite mirrors the DataFrame
operator's plan (operators/asof.py): build a "pick" table of the best
right match per distinct left (equality-keys, ts) via UNION ALL +
last(..., true) window carry, then equi-join it back:

    FROM t ASOF JOIN q ON t.sym = q.sym AND t.ts >= q.ts
    -->
    FROM t JOIN (
       -- one row per distinct left (sym, ts): the matched right row
       SELECT __k, __ts, <right cols carried> FROM (
         SELECT DISTINCT t.sym AS __k, t.ts AS __ts, 1 AS __side, NULL...
         FROM t
         UNION ALL
         SELECT q.sym, q.ts, 0, q.* FROM q
       ) windowed last() per __k ordered by (__ts, __side)
       WHERE __side = 1 [AND matched]
    ) q ON t.sym = q.__k AND t.ts = q.__ts

Scale properties: one shuffle on the equality keys for the window, one
equi-join back (hash/broadcast as Catalyst picks) — NO
BroadcastNestedLoopJoin, no |distinct times| x |right| intermediate,
linear in input. This is the plan the VERDICT r4 asked the SQL surface
to adopt.

`SELECT *` / `q.*` outer lists are expanded to explicit columns (left
alias `.*` + the right schema, qualified) so the pick relation's helper
join columns do not leak into the output; left sides that are JOIN
CHAINS source the pick's distinct-left rows from the single relation
the ON clause references (a superset of the chain's (key, ts) pairs —
the equi-join back keeps it correct) and replace only the ASOF segment.

Residual (non-equality) extra conjuncts keep the pick plan when they
reference ONE side: right-only residuals (q.px > 1.5) pre-filter the
union's right branch (the ASOF picks the best match among qualifying
rights), left-only residuals (t.id > 1) are appended to the join-back
ON (INNER drops / LEFT NULL-extends failing left rows).

FALLBACK: shapes the pick rewrite cannot express textually keep the
previous correlated LATERAL LIMIT-1 rewrite (correct; decorrelates into
a domain join — fine at doc scale): MIXED non-equality conjuncts
(t.v < q.v — a pair predicate the window carry can't express),
residuals with unqualified columns, unqualified left keys on a
join-chain left side, a bare `*` over a join-chain left side, or no
session given to type the right columns in.
"""

from __future__ import annotations

import re

from doris_spark.plans.sqltok import (
    depth0_search,
    depth_at,
    find_close,
    find_open_back,
    in_spans,
    lit_spans,
    split_top,
)

_ASOF = re.compile(r"\bASOF\s+(LEFT\s+|INNER\s+)?JOIN\b", re.I)
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_.]*")
# what ends an ON condition at paren depth 0: a clause keyword, a comma
# after a non-word char, or the close of the enclosing block
_BOUNDARY = re.compile(
    r"(?<!\w)(?:(WHERE|GROUP|ORDER|LIMIT|HAVING|QUALIFY|UNION|EXCEPT|"
    r"INTERSECT|JOIN|LEFT|RIGHT|FULL|INNER|CROSS|ASOF|WINDOW)\b|,)|\)",
    re.I,
)
_AND = re.compile(r"(?<!\w)AND(?!\w)", re.I)
_CMP = re.compile(r"(>=|<=|>|<)")
_EQ = re.compile(r"(?<![<>!=])=(?!=)")
_KEYWORDS = {"on", "where", "group", "order", "limit", "having", "join",
             "left", "right", "full", "inner", "cross", "asof", "as",
             "match_condition"}


def _skip_ws(s: str, i: int) -> int:
    while i < len(s) and s[i] in " \t\n\r":
        i += 1
    return i


def _split_conjuncts(cond: str) -> list[str]:
    return [p.strip() for p in split_top(cond, _AND) if p.strip()]


def _refs(expr: str, alias: str) -> bool:
    return re.search(rf"\b{re.escape(alias)}\s*\.", expr) is not None


def _idents_outside_literals(expr: str):
    lits = lit_spans(expr)
    return (m for m in _IDENT.finditer(expr) if not in_spans(lits, m.start()))


def _alias_prefixes(expr: str) -> set[str]:
    """All `ident.` qualifier prefixes in expr (outside string literals)."""
    return {
        m.group(0).split(".")[0]
        for m in _idents_outside_literals(expr)
        if "." in m.group(0)
    }


_BARE_OK = {
    "and", "or", "not", "in", "like", "rlike", "regexp", "between", "is",
    "null", "true", "false", "case", "when", "then", "else", "end",
    "interval", "date", "timestamp", "exists", "distinct", "cast", "as",
    "year", "month", "day", "hour", "minute", "second", "asc", "desc",
}


def _bare_columns(expr: str) -> bool:
    """True if expr contains an UNQUALIFIED identifier that looks like a
    column (not a function call, keyword, or literal) — such a conjunct
    can't be assigned to one join side safely."""
    for m in _idents_outside_literals(expr):
        name = m.group(0)
        if "." in name or name.lower() in _BARE_OK:
            continue
        j = _skip_ws(expr, m.end())
        if j < len(expr) and expr[j] == "(":
            continue  # function call
        return True
    return False


def _grab_left_relation(sql: str, end: int) -> tuple[str, str, int] | None:
    """Scan backward from `end` for a trailing `FROM <rel> [alias]`.

    Returns (relation_text_with_alias, alias, start_index) or None when
    the left side is not a single FROM relation (join chains etc.).
    """
    j = end
    while j > 0 and sql[j - 1] in " \t\n\r":
        j -= 1
    # optional trailing alias word
    wend = j
    while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] in "_"):
        j -= 1
    alias = sql[j:wend]
    if not alias or alias.lower() in _KEYWORDS:
        return None
    k = j
    while k > 0 and sql[k - 1] in " \t\n\r":
        k -= 1
    if k > 0 and sql[k - 1] == ")":
        # (subquery) alias — walk back over the balanced parens
        rel_start = find_open_back(sql, k - 1)
    else:
        # bare table name (alias may BE the table name with no alias)
        p = k
        while p > 0 and (sql[p - 1].isalnum() or sql[p - 1] in "_.`"):
            p -= 1
        rel_start = p
        word = sql[p:k]
        if word and word.lower() == "as":
            # `tbl AS alias` — keep walking to the table name
            p2 = p
            while p2 > 0 and sql[p2 - 1] in " \t\n\r":
                p2 -= 1
            p3 = p2
            while p3 > 0 and (sql[p3 - 1].isalnum() or sql[p3 - 1] in "_.`"):
                p3 -= 1
            rel_start = p3
        elif word.upper() == "FROM" and (
            p == 0 or not (sql[p - 1].isalnum() or sql[p - 1] == "_")
        ):
            rel_start = j  # `FROM tbl` — bare table name IS the alias
        elif not word:
            rel_start = j  # alias was itself the table name
    # the token before the relation must be FROM
    q = rel_start
    while q > 0 and sql[q - 1] in " \t\n\r":
        q -= 1
    if q < 4 or sql[q - 4 : q].upper() != "FROM" or (
        q >= 5 and (sql[q - 5].isalnum() or sql[q - 5] == "_")
    ):
        return None
    return sql[rel_start:end].strip(), alias, rel_start


def _right_schema(spark, rtable: str) -> list[tuple[str, str]] | None:
    """[(name, ddl_type)] of the right relation in `spark`'s catalog, or
    None if unresolvable (or no session is given)."""
    if spark is None:
        return None
    try:
        probe = f"SELECT * FROM {rtable} __asof_probe__ LIMIT 0"
        df = spark.sql(probe)
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    except Exception:
        return None


def _top_level_positions(sql: str, end: int, word: str) -> list[int]:
    """Start indices of `word` at paren-depth 0 (literal-aware) in
    sql[:end]."""
    pat = re.compile(rf"(?<!\w){word}(?!\w)", re.I)
    out, pos, text = [], 0, sql[:end]
    while (m := depth0_search(text, pat, pos)) is not None:
        out.append(m.start())
        pos = m.end()
    return out


def _find_alias_relation(
    sql: str, before: int, alias: str
) -> tuple[str, int, int] | None:
    """The relation text (`tbl [alias]` / `( ... ) alias`) bound to
    `alias` somewhere in the FROM clause before `before` — lets the pick
    plan source its distinct-left rows when the ASOF's left side sits in
    a JOIN CHAIN (the distinct (key, ts) pairs of the single referenced
    relation are a superset of the chain's, so the pick stays correct).
    Returns (relation_text, start, end) or None. Only occurrences at the
    same paren depth as `before` count — a `FROM x` inside an earlier
    subquery (e.g. a previous ASOF's pick plan) must not shadow the
    binding in this scope."""
    want = depth_at(sql, before)
    for m in reversed(
        list(
            re.finditer(
                rf"(?<![\w.`]){re.escape(alias)}(?![\w.`(])", sql[:before]
            )
        )
    ):
        if depth_at(sql, m.start()) != want:
            continue
        j = m.start()
        k = j
        while k > 0 and sql[k - 1] in " \t\n\r":
            k -= 1
        if k == j:
            continue  # alias must be preceded by whitespace
        if k > 0 and sql[k - 1] == ")":
            rel_start = find_open_back(sql, k - 1)
            if rel_start < 0:
                continue
        elif k > 0 and sql[k - 1] == ",":
            rel_start = j  # `..., alias` — bare table name in a FROM list
        else:
            p = k
            while p > 0 and (sql[p - 1].isalnum() or sql[p - 1] in "_.`"):
                p -= 1
            word = sql[p:k]
            if word.upper() in ("FROM", "JOIN") and (
                p == 0 or not (sql[p - 1].isalnum() or sql[p - 1] == "_")
            ):
                rel_start = j  # `FROM alias` — bare table name IS the alias
            elif not word or word.lower() in _KEYWORDS - {"as"}:
                continue
            elif word.lower() == "as":
                p2 = p
                while p2 > 0 and sql[p2 - 1] in " \t\n\r":
                    p2 -= 1
                p3 = p2
                while p3 > 0 and (sql[p3 - 1].isalnum() or sql[p3 - 1] in "_.`"):
                    p3 -= 1
                if p3 == p2:
                    continue
                rel_start = p3
            else:
                rel_start = p
        # the token before the relation must bind a FROM item
        q = rel_start
        while q > 0 and sql[q - 1] in " \t\n\r":
            q -= 1
        prev_ok = (
            (q >= 4 and sql[q - 4 : q].upper() == "FROM")
            or (q >= 4 and sql[q - 4 : q].upper() == "JOIN")
            or (q > 0 and sql[q - 1] == ",")
        )
        if not prev_ok:
            continue
        return sql[rel_start : m.end()].strip(), rel_start, m.end()
    return None


def _star_select_fix(
    sql: str,
    asof_start: int,
    ralias: str,
    lalias: str,
    right_cols: list[str],
    chain: bool,
):
    """Expand `*` / `<ralias>.*` select-list items so the pick relation's
    helper join columns don't leak into the output. Returns None (nothing
    to fix), "fallback" (can't expand safely — caller keeps the lateral
    path), or (span_start, span_end, replacement_text)."""
    head, lits = sql[:asof_start], lit_spans(sql)
    if all(in_spans(lits, m.start()) for m in re.finditer(r"(?<![\w'\"])\*", head)):
        return None
    if depth_at(sql, asof_start) != 0:
        return "fallback"  # nested scope — conservative
    sels = _top_level_positions(sql, asof_start, "SELECT")
    if not sels:
        return "fallback"
    s = sels[-1]
    froms = [p for p in _top_level_positions(sql, asof_start, "FROM") if p > s]
    if not froms:
        return "fallback"
    f = froms[0]
    span = sql[s + len("SELECT") : f]
    prefix = ""
    pm = re.match(r"\s*(ALL|DISTINCT)\b", span, re.I)
    if pm:
        prefix = span[: pm.end()]
        span = span[pm.end() :]
    items = split_top(span)
    rtext = ", ".join(f"{ralias}.`{c}`" for c in right_cols)
    changed = False
    out_items = []
    for it in items:
        t = it.strip()
        if t == "*":
            if chain:
                return "fallback"  # full-chain schema unknown — keep lateral
            out_items.append(f"{lalias}.*, {rtext}")
            changed = True
        elif re.fullmatch(rf"`?{re.escape(ralias)}`?\s*\.\s*\*", t):
            out_items.append(rtext)
            changed = True
        else:
            out_items.append(t)
    if not changed:
        return None  # stars were count(*) / left-alias.* — harmless
    return (
        s + len("SELECT"),
        f,
        prefix + " " + ", ".join(out_items) + " ",
    )


_uid = [0]


def _pick_rewrite(
    sql: str,
    lrel: str,
    lalias: str,
    lstart: int,
    rtable: str,
    ralias: str,
    kind: str,
    eqs: list[tuple[str, str]],
    lts: str,
    rts: str,
    direction: str,
    exact: bool,
    end: int,
    schema: list[tuple[str, str]],
    seg_start: int | None = None,
    left_res: list[str] | None = None,
    right_res: list[str] | None = None,
) -> str:
    """Emit the union+window pick plan. When seg_start is given the left
    side is a JOIN CHAIN: only the ASOF segment [seg_start, end) is
    replaced (`JOIN (pick) ralias ON ...`), with the pick's distinct-left
    rows sourced from `lrel` (the single relation the ON clause
    references) while the chain text stays in place."""
    _uid[0] += 1
    p = f"__asof{_uid[0]}"
    nk = len(eqs)
    kcols = [f"{p}_k{i}" for i in range(nk)]
    tscol, sidecol, mcol = f"{p}_ts", f"{p}_side", f"{p}_m"

    left_sel = ", ".join(
        [f"{le} AS {kc}" for (le, _), kc in zip(eqs, kcols)]
        + [f"{lts} AS {tscol}", f"1 AS {sidecol}"]
        + [f"CAST(NULL AS {t}) AS `{c}`" for c, t in schema]
    )
    right_sel = ", ".join(
        [f"{re_} AS {kc}" for (_, re_), kc in zip(eqs, kcols)]
        + [f"{rts} AS {tscol}", f"0 AS {sidecol}"]
        + [f"{ralias}.`{c}` AS `{c}`" for c, _ in schema]
    )
    ts_ord = "ASC" if direction == "backward" else "DESC"
    # right rows (side 0) sort before left rows at equal ts iff exact
    side_ord = "ASC" if exact else "DESC"
    over = (
        f"OVER (PARTITION BY {', '.join(kcols)} ORDER BY {tscol} {ts_ord}, "
        f"{sidecol} {side_ord} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    carried = ", ".join(
        [f"last(CASE WHEN {sidecol} = 0 THEN `{c}` END, true) {over} AS `{c}`"
         for c, _ in schema]
        + [f"last(CASE WHEN {sidecol} = 0 THEN 1 END, true) {over} AS {mcol}"]
    )
    matched_filter = f" AND {mcol} = 1" if kind == "INNER" else ""
    # right-only residual conjuncts pre-filter the candidate right rows
    rfilter = (
        " WHERE " + " AND ".join(f"({c})" for c in right_res)
        if right_res
        else ""
    )
    pick = (
        f"SELECT {', '.join(kcols)}, {tscol}, "
        + ", ".join(f"`{c}`" for c, _ in schema)
        + f" FROM (SELECT {', '.join(kcols)}, {tscol}, {sidecol}, {carried} "
        f"FROM (SELECT DISTINCT {left_sel} FROM {lrel} "
        f"UNION ALL SELECT {right_sel} FROM {rtable} {ralias}{rfilter}) "
        f"{p}_u) {p}_w "
        f"WHERE {sidecol} = 1{matched_filter}"
    )
    join_kw = "LEFT JOIN" if kind == "LEFT" else "JOIN"
    on = " AND ".join(
        [f"{le} = {ralias}.{kc}" for (le, _), kc in zip(eqs, kcols)]
        + [f"{lts} = {ralias}.{tscol}"]
        + [f"({c})" for c in (left_res or [])]
    )
    if seg_start is not None:
        repl = f"{join_kw} ({pick}) {ralias} ON {on} "
        return sql[:seg_start] + repl + sql[end:]
    repl = f"{lrel} {join_kw} ({pick}) {ralias} ON {on} "
    return sql[:lstart] + repl + sql[end:]


def rewrite_asof(sql: str, spark=None) -> str:
    """Expand every ASOF join in `sql`; non-ASOF SQL passes through.
    `spark` types the right relation's columns for the pick rewrite;
    without it, the lateral fallback runs."""
    while True:
        m = _ASOF.search(sql)
        if m is None:
            return sql
        # Doris plans bare `ASOF JOIN` as ASOF_LEFT_OUTER_JOIN
        # (query_p0/join/asof/test_asof_join.groovy test 39); only an
        # explicit INNER keeps inner semantics
        kind = (m.group(1) or "LEFT").strip().upper()
        i = _skip_ws(sql, m.end())

        # right relation: table name or (subquery), then optional alias
        if i < len(sql) and sql[i] == "(":
            j = find_close(sql, i) + 1
            rtable = sql[i:j]
        else:
            mm = _IDENT.match(sql, i)
            if mm is None:
                return sql  # unparseable; leave untouched
            rtable = mm.group(0)
            j = mm.end()
        k = _skip_ws(sql, j)
        ralias = None
        mm = _IDENT.match(sql, k)
        if mm and mm.group(0).lower() == "as":
            k = _skip_ws(sql, mm.end())
            mm = _IDENT.match(sql, k)
        if mm and mm.group(0).lower() not in _KEYWORDS:
            ralias = mm.group(0)
            k = mm.end()
        if ralias is None:
            ralias = rtable.split(".")[-1]
        k = _skip_ws(sql, k)
        # Doris grammar: ASOF ... JOIN rel MATCH_CONDITION(<ineq>) ON <eqs>
        # (DorisParser.g4 joinCriteria); the bare ON-with-inequality form
        # is accepted too.
        match_cond = None
        if sql[k : k + 15].upper() == "MATCH_CONDITION":
            p = _skip_ws(sql, k + 15)
            if p < len(sql) and sql[p] == "(":
                pend = find_close(sql, p) + 1
                match_cond = sql[p + 1 : pend - 1].strip()
                k = _skip_ws(sql, pend)
        if not sql[k : k + 2].upper() == "ON":
            return sql
        k = _skip_ws(sql, k + 2)

        # ON condition extends to the next top-level clause boundary
        bm = depth0_search(sql, _BOUNDARY, k)
        end = bm.start() if bm else len(sql)
        cond = sql[k:end].strip()

        conjuncts = _split_conjuncts(cond)
        if match_cond is not None:
            conjuncts = conjuncts + _split_conjuncts(match_cond)
        ineq = None
        for cj in conjuncts:
            cm = _CMP.search(cj)
            if cm and _refs(cj, ralias):
                # the MATCH column comparison is two-sided (left expr vs
                # right expr); a one-sided inequality (q.px > 1.5) is a
                # residual filter, only used as match if nothing better
                if _alias_prefixes(cj) - {ralias}:
                    ineq = (cj, cm)
                elif ineq is None or not (
                    _alias_prefixes(ineq[0]) - {ralias}
                ):
                    ineq = (cj, cm)
        if ineq is None:
            return sql  # no inequality referencing the right side
        cj, cm = ineq
        op = cm.group(1)
        lhs, rhs = cj[: cm.start()].strip(), cj[cm.end() :].strip()
        # the match column of the RIGHT table orders the lateral pick
        if _refs(rhs, ralias) and not _refs(lhs, ralias):
            right_expr, right_on_left = rhs, False
        else:
            right_expr, right_on_left = lhs, True
        # backward asof (pick the LARGEST right value <= left) when the
        # right side is the smaller operand; forward asof otherwise
        if (not right_on_left and op in (">", ">=")) or (
            right_on_left and op in ("<", "<=")
        ):
            direction = "DESC"
        else:
            direction = "ASC"

        # ---------------- scale-safe pick plan (preferred) ----------------
        planned = _try_pick_plan(
            sql, m.start(), rtable, ralias, kind, conjuncts, (cj, cm), end, spark
        )
        if planned is not None:
            sql = planned
            continue

        # ---------------- lateral fallback ----------------
        inner = (
            f"SELECT * FROM {rtable} {ralias} WHERE "
            + " AND ".join(conjuncts)
            + f" ORDER BY {right_expr} {direction} LIMIT 1"
        )
        if kind == "LEFT":
            repl = f"LEFT JOIN LATERAL ({inner}) {ralias} ON true "
        else:
            repl = f"JOIN LATERAL ({inner}) {ralias} ON true "
        sql = sql[: m.start()] + repl + sql[end:]


def _try_pick_plan(
    sql: str,
    asof_start: int,
    rtable: str,
    ralias: str,
    kind: str,
    conjuncts: list[str],
    ineq: tuple[str, re.Match],
    end: int,
    spark,
) -> str | None:
    """Attempt the union+window pick rewrite; None -> lateral fallback."""
    cj, cm = ineq
    op = cm.group(1)
    lhs, rhs = cj[: cm.start()].strip(), cj[cm.end() :].strip()
    if _refs(rhs, ralias) and not _refs(lhs, ralias):
        lts, rts, right_on_left = lhs, rhs, False
    elif _refs(lhs, ralias) and not _refs(rhs, ralias):
        lts, rts, right_on_left = rhs, lhs, True
    else:
        return None
    if (not right_on_left and op in (">", ">=")) or (
        right_on_left and op in ("<", "<=")
    ):
        direction = "backward"
    else:
        direction = "forward"
    exact = op in (">=", "<=")

    eqs: list[tuple[str, str]] = []
    # Residual (non-equality / non-splittable) conjuncts keep the pick
    # plan when they reference ONE side only: right-only residuals
    # pre-filter the candidate right rows (the ASOF picks the best match
    # among qualifying rights — filter the union's right branch), and
    # left-only residuals gate which left rows match at all (append to
    # the join-back ON, so INNER drops / LEFT NULL-extends them). Only a
    # MIXED non-equality residual (e.g. t.v < q.v) still needs the
    # correlated lateral — it filters candidate PAIRS, which the
    # window-carry plan cannot express.
    left_res: list[str] = []
    right_res: list[str] = []
    for c in conjuncts:
        if c is cj or c == cj:
            continue
        parts = _EQ.split(c)
        if len(parts) == 2:
            a, b = parts[0].strip(), parts[1].strip()
            if _refs(b, ralias) and not _refs(a, ralias):
                eqs.append((a, b))
                continue
            if _refs(a, ralias) and not _refs(b, ralias):
                eqs.append((b, a))
                continue
        quals = _alias_prefixes(c)
        if _bare_columns(c):
            return None  # unqualified column — side unknown, keep lateral
        if quals == {ralias}:
            right_res.append(c)
        elif quals and ralias not in quals:
            left_res.append(c)
        else:
            return None  # mixed (or qualifier-free) residual conjunct
    if not eqs:
        return None  # keyless asof: window over everything — keep lateral

    # all left-side qualifiers across keys + ts must name ONE relation
    lquals: set[str] = set()
    for le, _ in eqs:
        lquals |= _alias_prefixes(le)
    lquals |= _alias_prefixes(lts)
    for c in left_res:
        lquals |= _alias_prefixes(c)
    if len(lquals) > 1:
        return None

    grabbed = _grab_left_relation(sql, asof_start)
    seg_start = None
    if grabbed is not None and (not lquals or lquals == {grabbed[1]}):
        lrel, lalias, lstart = grabbed
    elif len(lquals) == 1:
        # JOIN-CHAIN left side: source the pick's distinct-left rows from
        # the single relation the ON clause references (superset of the
        # chain's (key, ts) pairs) and replace only the ASOF segment
        lalias = next(iter(lquals))
        found = _find_alias_relation(sql, asof_start, lalias)
        if found is None:
            return None
        lrel, _, rel_end = found
        # a depth-0 comma between the relation and the ASOF would put the
        # join-back ON out of scope of `lalias` — keep lateral there
        if depth0_search(sql[rel_end:asof_start], ",") is not None:
            return None
        lstart, seg_start = asof_start, asof_start
    else:
        return None  # unqualified keys on a non-FROM-adjacent left side

    schema = _right_schema(spark, rtable)
    if schema is None:
        return None

    star = _star_select_fix(
        sql, asof_start, ralias, lalias, [c for c, _ in schema],
        chain=seg_start is not None,
    )
    if star == "fallback":
        return None
    out = _pick_rewrite(
        sql, lrel, lalias, lstart, rtable, ralias, kind, eqs, lts, rts,
        direction, exact, end, schema, seg_start,
        left_res=left_res, right_res=right_res,
    )
    if star is not None:
        ss, se, repl = star
        out = out[:ss] + repl + out[se:]
    return out
