"""SQL macro layer: Doris aggregate/lambda spellings -> Spark SQL.

The reference FE resolves function names before planning
(BuiltinAggregateFunctions.java, ExpressionAnalyzer); this module is the
same resolution step for the names Spark spells differently or that
expand to composite expressions. Engine.sql() runs every statement
through rewrite() before handing it to Catalyst, so a Doris user's SQL
works verbatim — and the expansion is a plain Spark expression, fully
visible to the optimizer (no UDFs introduced).

Two macro kinds:
- rename: `ndv(x)` -> `approx_count_distinct(x)`
- template/callable: `avg_weighted(x, w)` -> `(sum((x) * (w)) / sum(w))`,
  variadic `retention(c1, .., cn)` -> bool_or array expression.

Lambda-first Doris spellings (`array_map(x -> x + 1, arr)`) are
re-ordered to Spark's higher-order functions (`transform(arr, x -> x +
1)`); the mask-form registrations in registry_ext.py keep working because
the macro only fires when an argument contains `->`.

The rewriter is quote- and paren-aware but deliberately NOT a full SQL
parser: names are matched as identifiers followed by `(`, arguments are
split on top-level commas, inner calls are rewritten first.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence

from doris_spark.plans.sqltok import find_close, in_spans, lit_spans, split_args_top

Macro = Callable[[Sequence[str]], str]

# lc_time_names session variable (MySQL semantics; the reference resolves
# it per-connection). One value per Python process — the Engine facade
# routes SET statements here via rewrite(); dayname/monthname expansions
# read it at macro-expansion time.
_LC_TIME_NAMES = "en_US"


def set_lc_time_names(value: str) -> None:
    global _LC_TIME_NAMES
    _LC_TIME_NAMES = value


def _locale_name(kind: str) -> Macro:
    def mk(args: Sequence[str]) -> str:
        lc = _LC_TIME_NAMES.lower()
        if lc in ("en_us", "en", "en_gb", "en_ca", "en_au"):
            pat = "MMMM" if kind == "months" else "EEEE"
            return f"date_format({args[0]}, '{pat}')"
        fn = "__locale_monthname" if kind == "months" else "__locale_dayname"
        return f"{fn}(CAST({args[0]} AS TIMESTAMP), '{lc}')"

    return mk


def _rename(new: str) -> Macro:
    return lambda args: f"{new}({', '.join(args)})"


def _tpl(template: str) -> Macro:
    return lambda args: template.format(*args)


def _collect_with_limit(base: str) -> Macro:
    """Doris collect_list/collect_set/group_array(expr[, max_size]):
    the optional second argument caps the result length
    (aggregate_function_collect.h)."""

    def m(args: Sequence[str]) -> str:
        if len(args) == 2:
            # Doris fills the cap from its serialize/merge order, which
            # surfaces LAST-inserted-first on single-tablet fixtures
            # (query_p0/aggregate/array_agg.groovy complex-limit
            # goldens) — take the trailing N reversed
            return (f"slice(reverse({base}({args[0]})), 1, "
                    f"CAST(({args[1]}) AS INT))")
        return f"{base}({', '.join(args)})"

    return m


def _retention(args: Sequence[str]) -> str:
    """ClickHouse/Doris retention: r[0] = bool_or(c1); r[k] = bool_or(c1)
    AND bool_or(ck), as 0/1 tinyints (aggregate_function_retention.h).
    Empty group -> NULL (Doris empty-agg contract)."""
    first = f"bool_or({args[0]})"
    elems = [f"coalesce(CAST({first} AS INT), 0)"] + [
        f"coalesce(CAST({first} AND bool_or({a}) AS INT), 0)"
        for a in args[1:]
    ]
    return (f"(CASE WHEN count(1) = 0 THEN CAST(NULL AS ARRAY<INT>) "
            f"ELSE array({', '.join(elems)}) END)")


def _lambda_first(spark_name: str) -> Macro:
    """Doris lambda-first form -> Spark hof (lambda last). Non-lambda
    first arg falls through to the registered mask-form SQL UDF.
    Doris array_map is N-ary ((x,y) -> x+y over two arrays); Spark's
    transform is unary, so the 2-array form maps to zip_with and wider
    forms zip pairwise (nereids_syntax_p0/array_function.groovy)."""

    def m(args: Sequence[str]) -> str:
        if len(args) >= 2 and "->" in args[0]:
            if spark_name == "transform" and len(args) == 3:
                return f"zip_with({args[1]}, {args[2]}, {args[0]})"
            if spark_name == "transform" and len(args) > 3:
                lam = args[0]
                params = re.findall(r"[\w$]+", lam.split("->", 1)[0])
                body = lam.split("->", 1)[1]
                # zip all arrays into structs, rebind params to fields
                zipped = f"arrays_zip({', '.join(a.strip() for a in args[1:])})"
                for idx, p in enumerate(params):
                    body = re.sub(
                        rf"(?<![\w.$`]){re.escape(p)}(?![\w$`])",
                        f"__z__['{idx}']", body)
                return f"transform({zipped}, __z__ -> ({body}))"
            rest = ", ".join(args[1:])
            return f"{spark_name}({rest}, {args[0]})"
        return f"__KEEP__({', '.join(args)})"

    return m


# aggregate macros that accept a `DISTINCT expr` first argument
# (query_p0-style spellings, pinned by nereids_function_p0/agg_function/
# agg_distinct_function.groovy). The engine strips the DISTINCT prefix
# before arg-splitting and re-inserts it into the expansion's first
# distinct-capable Spark aggregate; expansions without one silently
# treat DISTINCT as a no-op (max_by-style order statistics).
_DISTINCT_STRIP = {
    "array_agg", "collect_list", "collect_set", "group_array",
    "corr", "corr_welford", "covar", "covar_samp", "covar_pop",
    "histogram", "map_agg", "map_agg_v1", "map_agg_v2",
    "max_by", "min_by", "percentile", "percentile_array",
    "percentile_approx", "percentile_approx_weighted",
    "percentile_reservoir", "topn", "topn_array", "topn_weighted",
    "exponential_moving_average", "group_concat", "avg_weighted",
    "sum0", "multi_distinct_sum0",
}

_D_AGG_RE = re.compile(
    r"(?i)\b(collect_list|collect_set|percentile_approx|percentile"
    r"|corr|covar_samp|covar_pop|max_by|min_by|sum|avg)\s*\(")


def _insert_distinct(expansion: str) -> str:
    # EVERY distinct-capable aggregate site: histogram/topn expansions
    # collect the same column several times (values + per-value counts)
    # and Doris computes all of them over the distinct multiset
    return _D_AGG_RE.sub(lambda m: m.group(0) + "DISTINCT ", expansion)


def _sum_bool_aware(args: Sequence[str], zero: bool) -> str:
    """Doris sums BOOLEAN as its tinyint value (TypeCoercionUtils);
    Spark's sum refuses booleans. sum0 additionally maps the empty
    group to 0."""
    a = args[0].strip() if args else ""
    cm = re.fullmatch(r"`?(?:\w+\.)?(\w+)`?", a)
    expr = a
    if cm:
        from doris_spark.plans import type_hints as th

        if (th.lookup(cm.group(1)) or "") == "boolean":
            expr = f"CAST({a} AS INT)"
    if zero:
        return f"coalesce(sum({expr}), 0)"
    if expr is not a:
        return f"sum({expr})"
    return "__KEEP__(" + ", ".join(args) + ")"


def _group_bit(op: str, args: Sequence[str]) -> str:
    """group_bit_{and,or,xor}: BIGINT cast for largeint hints; plain
    Spark bit_{op} otherwise."""
    a = args[0].strip() if args else ""
    cm = re.fullmatch(r"`?(?:\w+\.)?(\w+)`?", a)
    if cm:
        from doris_spark.plans import type_hints as th

        if (th.lookup(cm.group(1)) or "").startswith("largeint"):
            return f"bit_{op}(CAST({a} AS BIGINT))"
    return f"bit_{op}({a})"


def _bit_count(args: Sequence[str]) -> str:
    """Doris bit_count counts 1-bits at the ARGUMENT's type width
    (bit_count(tinyint -1) = 8); Spark's is fixed 64-bit. Integer
    LITERALS take the smallest fitting type (FE constant typing);
    columns/expressions dispatch on typeof. LARGEINT (the dialect maps
    it to DECIMAL(38,0)) counts at 128 bits — for negatives in bigint
    range the upper 64 bits are all ones."""
    if len(args) != 1:
        return "__KEEP__(" + ", ".join(args) + ")"
    x = args[0].strip()
    cm = re.fullmatch(
        r"cast\s*\(\s*(-?\d+)\s+as\s+(?:largeint|decimal\s*\(\s*38\s*,\s*0\s*\))\s*\)",
        x,
        re.I,
    )
    if cm:
        # LARGEINT literal cast: 128-bit two's-complement popcount (the
        # int128 literal itself exceeds Spark's DECIMAL(38) parser)
        return str(bin(int(cm.group(1)) & ((1 << 128) - 1)).count("1"))
    if re.fullmatch(r"-?\d+", x):
        v = int(x)
        if -(2 ** 7) <= v < 2 ** 7:
            mask = (1 << 8) - 1
        elif -(2 ** 15) <= v < 2 ** 15:
            mask = (1 << 16) - 1
        elif -(2 ** 31) <= v < 2 ** 31:
            mask = (1 << 32) - 1
        elif -(2 ** 63) <= v < 2 ** 63:
            mask = (1 << 64) - 1
        else:
            mask = (1 << 128) - 1
        return str(bin(v & mask).count("1"))
    # every branch must ANALYZE for any input type -> operate on an
    # explicit BIGINT cast throughout (decimal & int does not type-check)
    return (
        "CASE WHEN typeof({0}) = 'tinyint' THEN bit_count(CAST(({0}) AS BIGINT) & 255) "
        "WHEN typeof({0}) = 'smallint' THEN bit_count(CAST(({0}) AS BIGINT) & 65535) "
        "WHEN typeof({0}) = 'int' THEN bit_count(CAST(({0}) AS BIGINT) & 4294967295) "
        "WHEN typeof({0}) = 'decimal(38,0)' AND ({0}) < 0 "
        "  THEN bit_count(CAST(({0}) AS BIGINT)) + 64 "
        "ELSE bit_count(CAST(({0}) AS BIGINT)) END"
    ).format(args[0])


def _floor_ceil_2arg(name: str, args: Sequence[str]) -> str:
    """{unit}_floor/_ceil 2-arg overloads: the second argument is a
    PERIOD when integral, an ORIGIN when date-shaped (Doris overload
    resolution); for a column/expression dispatch on typeof."""
    if len(args) != 2:
        return "__KEEP__(" + ", ".join(args) + ")"
    a, b = args[0], args[1].strip()
    if re.fullmatch(r"-?\d+", b):
        return "__KEEP__(" + ", ".join(args) + ")"
    if re.search(r"['\"]|-|:", b) and not re.match(r"\s*INTERVAL\b", b, re.I):
        return f"__KEEP__({a}, 1, {b})"
    return (
        f"CASE WHEN typeof({b}) IN ('timestamp', 'timestamp_ntz', 'date', 'string') "
        f"THEN {name}({a}, 1, CAST(({b}) AS TIMESTAMP)) "
        f"ELSE {name}({a}, CAST(({b}) AS INT)) END"
    )


def _bit_test_macro(args: Sequence[str]) -> str:
    if len(args) < 2:
        return "__KEEP__(" + ", ".join(args) + ")"
    x = args[0].strip()
    lm = re.fullmatch(r"-?\d+", x) or re.fullmatch(
        r"cast\s*\(\s*(-?\d+)\s+as\s+(?:largeint|decimal\s*\(\s*38\s*,\s*0\s*\))\s*\)",
        x, re.I,
    )
    if lm and all(re.fullmatch(r"\d+", p.strip()) for p in args[1:]):
        # int128-scale literals exceed Spark's DECIMAL(38) parser —
        # fold the bit probe here (the FE does the same)
        v = int(lm.group(1) if lm.groups() else x)
        return str(int(all((v >> int(p)) & 1 for p in args[1:])))
    return (
        "CAST(("
        + " AND ".join(
            f"(shiftright(CAST(({args[0]}) AS BIGINT), CAST(({p}) AS INT)) & 1) = 1"
            for p in args[1:]
        )
        + ") AS INT)"
    )


def _group_concat_macro(args: Sequence[str]) -> str:
    """group_concat([DISTINCT] expr [, sep] [ORDER BY ...]) ->
    listagg([DISTINCT] expr, sep) [WITHIN GROUP (ORDER BY ...)].
    MySQL/Doris default separator is ','."""
    first = args[0]
    distinct = ""
    dm = re.match(r"(?i)\s*DISTINCT\s+(.*)$", first, re.S)
    if dm:
        distinct, first = "DISTINCT ", dm.group(1)
    # ORDER BY may start inside any argument; later comma-split args are
    # additional sort keys (group_concat(x ORDER BY a, b))
    order = ""
    work = [first] + list(args[1:])
    for i, a in enumerate(work):
        om = re.search(r"(?is)\s+ORDER\s+BY\s+(.*)$", a)
        if om:
            tail_keys = [om.group(1)] + [w.strip() for w in work[i + 1 :]]
            order = ", ".join(tail_keys)
            work = work[:i] + [a[: om.start()]]
            break
    first, rest = work[0], work[1:]
    sep = rest[0] if rest and rest[0].strip() else "','"
    if order:
        # Spark's listagg WITHIN GROUP rejects expression sort keys with
        # DISTINCT and any window-function key — build the ordered list
        # explicitly: sort (keys.., value) structs with a comparator
        # (handles DESC + NULLS FIRST like Doris), then join
        keys = []
        for kx in re.split(r",(?![^()]*\))", order):
            km = re.match(
                r"^(.*?)(?:\s+(ASC|DESC))?\s*$", kx.strip(), re.I | re.S
            )
            keys.append((km.group(1), (km.group(2) or "ASC").upper()))
        fields = ", ".join(
            [f"'k{i}', ({k})" for i, (k, _d) in enumerate(keys)]
            + [f"'v', CAST(({first}) AS STRING)"]
        )
        cmp_chain = "0"
        for i, (_k, d) in reversed(list(enumerate(keys))):
            s_ = 1 if d == "ASC" else -1
            cmp_chain = (
                f"CASE WHEN a.k{i} IS NULL AND b.k{i} IS NULL THEN {cmp_chain} "
                f"WHEN a.k{i} IS NULL THEN {-s_} "
                f"WHEN b.k{i} IS NULL THEN {s_} "
                f"WHEN a.k{i} < b.k{i} THEN {-s_} "
                f"WHEN a.k{i} > b.k{i} THEN {s_} "
                f"ELSE {cmp_chain} END"
            )
        vals = (
            f"transform(array_sort("
            f"collect_list(named_struct({fields})), "
            f"(a, b) -> {cmp_chain}), s -> s.v)"
        )
        if distinct:
            vals = f"array_distinct({vals})"
        return f"array_join({vals}, {sep})"
    return f"listagg({distinct}{first}, {sep})"


def _grouping_id_macro(args: Sequence[str]) -> str:
    """grouping_id(c1, .., cn) -> bitvector over ONLY the listed columns
    (Doris semantics, query_p0/grouping_sets goldens: grouping_id(c1,c2)
    = grouping(c1)*2 + grouping(c2)); Spark's builtin demands the full
    grouping-column list, so expand to grouping() arithmetic."""
    if not args or (len(args) == 1 and not args[0].strip()):
        return "grouping_id()"
    n = len(args)
    terms = [
        f"grouping({a}) * {1 << (n - 1 - i)}" if n - 1 - i else f"grouping({a})"
        for i, a in enumerate(args)
    ]
    return "(" + " + ".join(terms) + ")"


def _count_by_enum_macro(args: Sequence[str]) -> str:
    """count_by_enum(c1, .., cn) -> Doris's per-column JSON histogram
    (aggregate_function_count_by_enum.h): [{"cbe":{value:count,..},
    "notnull":N,"null":M,"all":T}, ..] — emitted as an array of structs
    so the comparator diffs it as JSON values."""
    outs = []
    for a in args:
        s = f"CAST(({a}) AS STRING)"
        cl = f"collect_list({s})"
        outs.append(
            f"named_struct("
            f"'cbe', map_from_entries(transform(array_distinct({cl}), "
            f"v -> struct(v, CAST(size(filter({cl}, x -> x = v)) AS BIGINT)))), "
            f"'notnull', count({s}), "
            f"'null', coalesce(sum(CASE WHEN ({a}) IS NULL THEN 1 ELSE 0 END), 0), "
            f"'all', count(1))"
        )
    arr = "array(" + ", ".join(outs) + ")"
    # empty group -> '[]' (the slice keeps the struct element type)
    return f"slice({arr}, 1, IF(count(1) = 0, 0, {len(outs)}))"


def _histogram_macro(args: Sequence[str]) -> str:
    """Doris histogram(x[, n]) -> {"num_buckets":K,"buckets":[{"lower":
    str,"upper":str,"ndv":1,"count":c,"pre_sum":cum}]}. Equi-height with
    max-bucket default 128: below the cap every distinct value is its
    own bucket, which is the exact reference behavior the suites
    exercise (above the cap the reference samples — out of scope)."""
    x = args[0]
    cl = f"collect_list({x})"
    vals = f"array_sort(array_distinct({cl}))"
    cnt = "size(filter({cl}, e -> e <=> {v}))"
    return (
        f"named_struct('num_buckets', size({vals}), 'buckets', "
        f"transform({vals}, (v, i) -> named_struct("
        f"'lower', CAST(v AS STRING), 'upper', CAST(v AS STRING), "
        f"'ndv', 1, "
        f"'count', CAST({cnt.format(cl=cl, v='v')} AS BIGINT), "
        f"'pre_sum', aggregate(slice({vals}, 1, i), CAST(0 AS BIGINT), "
        f"(a, u) -> a + {cnt.format(cl=cl, v='u')}))))"
    )


def _linear_histogram_macro(args: Sequence[str]) -> str:
    """Doris linear_histogram(x, interval[, offset]) -> equi-width
    buckets {"num_buckets":K,"buckets":[{"lower":..,"upper":..,
    "count":c,"acc_count":cum}]}."""
    x, itv = args[0], args[1]
    off = args[2] if len(args) > 2 else "0"
    xs = f"collect_list(CAST(({x}) AS DOUBLE))"
    bk = f"CAST(floor((v - ({off})) / ({itv})) AS BIGINT)"
    bks = (
        f"array_sort(array_distinct(transform({xs}, v -> {bk})))"
    )
    cnt = (
        f"size(filter({xs}, v -> {bk} = {{b}}))"
    )
    return (
        f"named_struct('num_buckets', size({bks}), 'buckets', "
        f"transform({bks}, (b, i) -> named_struct("
        f"'lower', b * ({itv}) + ({off}), "
        f"'upper', (b + 1) * ({itv}) + ({off}), "
        f"'count', CAST({cnt.format(b='b')} AS BIGINT), "
        f"'acc_count', aggregate(slice({bks}, 1, i + 1), "
        f"CAST(0 AS BIGINT), (a, u) -> a + {cnt.format(b='u')}))))"
    )


def _intersect_count_macro(args: Sequence[str]) -> str:
    """Doris intersect_count(bitmap, filter_col, v1, .., vk): size of
    the intersection of the per-filter-value bitmap unions
    (aggregate_function_orthogonal_bitmap.h)."""
    bm, col, vals = args[0], args[1], args[2:]

    def group_bm(v: str) -> str:
        return (
            f"array_distinct(flatten(collect_list("
            f"CASE WHEN ({col}) <=> {v} THEN ({bm}) END)))"
        )

    base = group_bm(vals[0])
    conds = " AND ".join(
        f"array_contains({group_bm(v)}, e)" for v in vals[1:]
    )
    body = f"filter({base}, e -> {conds})" if conds else base
    return f"CAST(size({body}) AS BIGINT)"


def _seq_events(ts: str, conds: Sequence[str]) -> str:
    cs = ", ".join(f"coalesce({c}, false)" for c in conds)
    return (
        f"array_sort(collect_list(named_struct("
        f"'t', CAST(({ts}) AS TIMESTAMP), 'cs', array({cs}))))"
    )


def _parse_seq_pattern(pat: str) -> tuple[list[int], dict[int, str]] | None:
    """'(?1)(?t>=3600)(?2)' -> ([1, 2], {1: '>=3600'}) — gap constraint
    indexed by the transition it precedes (0-based transition i is
    between refs[i-1] and refs[i])."""
    pat = pat.strip().strip("'\"")
    refs: list[int] = []
    gaps: dict[int, str] = {}
    i = 0
    while i < len(pat):
        m = re.match(r"\(\?(\d+)\)", pat[i:])
        if m:
            refs.append(int(m.group(1)))
            i += m.end()
            continue
        m = re.match(r"\(\?t\s*([<>]=?)\s*(\d+)\)", pat[i:])
        if m:
            gaps[len(refs)] = m.group(1) + m.group(2)
            i += m.end()
            continue
        if pat[i : i + 2] == ".*":
            i += 2
            continue
        return None
    return refs, gaps


def _seq_fold(args: Sequence[str], count: bool) -> str:
    """sequence_match / sequence_count (aggregate_function_sequence_
    match.h): greedy subsequence over time-sorted events, optional
    (?t<op>N) seconds constraints between adjacent refs."""
    parsed = _parse_seq_pattern(args[0])
    if parsed is None:
        # unsupported pattern shape: leave the call unresolved
        return f"sequence_{'count' if count else 'match'}({', '.join(args)})"
    refs, gaps = parsed
    ts, conds = args[1], args[2:]
    ev = _seq_events(ts, conds)
    k = len(refs)
    branches = []
    for pos in range(k):
        cond = f"element_at(e.cs, {refs[pos]})"
        g = gaps.get(pos)
        if g and pos > 0:
            op = g[: 2 if g[1] == "=" else 1]
            n = g[len(op) :]
            cond += (
                f" AND (unix_micros(e.t) - unix_micros(s.tp)) "
                f"{op} CAST({n} AS BIGINT) * 1000000"
            )
        branches.append(
            f"WHEN s.pos = {pos} AND {cond} THEN "
            + (
                f"named_struct('pos', {pos + 1}, 'cnt', s.cnt, 'tp', e.t)"
                if pos + 1 < k
                else (
                    f"named_struct('pos', 0, 'cnt', s.cnt + 1, 'tp', e.t)"
                    if count
                    else f"named_struct('pos', {k}, 'cnt', s.cnt + 1, 'tp', e.t)"
                )
            )
        )
    fold = (
        f"aggregate({ev}, "
        f"named_struct('pos', 0, 'cnt', CAST(0 AS BIGINT), "
        f"'tp', CAST(NULL AS TIMESTAMP)), "
        f"(s, e) -> CASE {' '.join(branches)} ELSE s END, "
        f"s -> s.cnt)"
    )
    # empty group: sequence_count -> 0, sequence_match -> NULL
    # (aggregate_function_sequence_match.h create/insert defaults)
    if count:
        return f"coalesce({fold}, CAST(0 AS BIGINT))"
    return (f"(CASE WHEN count({ts}) = 0 THEN CAST(NULL AS BOOLEAN) "
            f"ELSE ({fold} > 0) END)")


def _window_funnel_macro(args: Sequence[str]) -> str:
    """Doris window_funnel(window_s, 'mode', ts, c1, .., cn): greedy
    funnel level anchored at the FIRST step-1 event, steps within
    window_s of it; 'default' admits equal timestamps between steps,
    'increase' requires strictly increasing; 'deduplication' stops when
    an already-matched step type recurs strictly between matches;
    'fixed' stops when ANY other funnel-step event interleaves (mirrors
    operators/funnel.py — aggregate_function_window_funnel_v2.h)."""
    w, mode, ts, conds = args[0], args[1].strip("'\" ").lower(), args[2], args[3:]
    if mode not in ("default", "increase", "deduplication", "fixed"):
        return f"window_funnel({', '.join(args)})"
    ev = _seq_events(ts, conds)
    n = len(conds)
    win = f"CAST(({w}) AS BIGINT) * 1000000"
    # MULTI-PASS over every step-1 anchor, exactly like the reference's
    # v2 algorithms (_get_default/_get_increase/_get_deduplication/
    # _get_fixed) — the result is the best chain over all anchors.
    anchor_t = "element_at(__ev, __a).t"
    in_win = f"unix_micros(e.t) <= unix_micros({anchor_t}) + {win}"
    tail = "slice(__ev, __a + 1, size(__ev))"
    if mode in ("default", "increase"):
        # level-array chain: level k is (re)set by an event matching
        # cond k whose predecessor level is set, within window of the
        # anchor; 'increase' additionally requires strictly-greater ts
        # than the predecessor's LAST ts (overwrite semantics included —
        # the reference reassigns a level on every later match)
        strict = (
            "AND unix_micros(e.t) > "
            "unix_micros(element_at(st, __k - 1).l) "
            if mode == "increase"
            else ""
        )
        per_anchor = (
            f"size(filter(aggregate({tail}, "
            f"transform(sequence(1, {n}), __k -> named_struct("
            f"'f', __k = 1, 'l', element_at(__ev, __a).t)), "
            f"(st, e) -> transform(sequence(1, {n}), __k -> "
            f"CASE WHEN __k > 1 AND element_at(st, __k - 1).f "
            f"AND element_at(e.cs, __k) AND {in_win} {strict}"
            f"THEN named_struct('f', true, 'l', e.t) "
            f"ELSE element_at(st, __k) END)), x -> x.f))"
        )
    elif mode == "deduplication":
        # sequential scan for the EXACT next level; a row firing any
        # already-matched condition strictly between chain rows breaks
        # the chain; target beyond the window breaks
        per_anchor = (
            f"aggregate({tail}, "
            f"named_struct('lvl', 1, 'dead', false), "
            f"(s, e) -> CASE "
            f"WHEN s.dead OR s.lvl >= {n} THEN s "
            f"WHEN element_at(e.cs, s.lvl + 1) THEN "
            f"CASE WHEN {in_win} THEN "
            f"named_struct('lvl', s.lvl + 1, 'dead', false) "
            f"ELSE named_struct('lvl', s.lvl, 'dead', true) END "
            f"WHEN exists(sequence(1, s.lvl), "
            f"__j -> element_at(e.cs, __j)) THEN "
            f"named_struct('lvl', s.lvl, 'dead', true) "
            f"ELSE s END, s -> s.lvl)"
        )
    else:  # fixed
        # every condition-matching row must be the expected next step;
        # rows matching NO condition are skipped (4.1 semantics)
        per_anchor = (
            f"aggregate({tail}, "
            f"named_struct('lvl', 1, 'dead', false), "
            f"(s, e) -> CASE "
            f"WHEN s.dead OR s.lvl >= {n} THEN s "
            f"WHEN NOT exists(e.cs, __c -> __c) THEN s "
            f"WHEN NOT ({in_win}) THEN "
            f"named_struct('lvl', s.lvl, 'dead', true) "
            f"WHEN element_at(e.cs, s.lvl + 1) THEN "
            f"named_struct('lvl', s.lvl + 1, 'dead', false) "
            f"ELSE named_struct('lvl', s.lvl, 'dead', true) "
            f"END, s -> s.lvl)"
        )
    anchors = (
        "filter(sequence(1, size(__ev)), "
        "__a -> element_at(element_at(__ev, __a).cs, 1))"
    )
    inner = (
        f"coalesce(array_max(transform({anchors}, "
        f"__a -> {per_anchor})), 0)"
    )
    # bind the sorted event array ONCE via a 1-element transform (the
    # expression would otherwise repeat 6+ times). An EMPTY group is
    # NULL (Doris empty-agg contract; also keeps sequence(1, 0) from
    # producing a descending [1, 0] index probe).
    return (
        f"(CASE WHEN count({ts}) = 0 THEN CAST(NULL AS INT) ELSE "
        f"element_at(transform(array({ev}), __ev -> {inner}), 1) END)"
    )


def _regr_parts(y: str, x: str) -> dict[str, str]:
    """Pairwise-filtered regression sufficient statistics; boolean and
    integer inputs coerce to DOUBLE (the Doris FE casts implicitly)."""
    yd = f"CAST(({y}) AS DOUBLE)"
    xd = f"CAST(({x}) AS DOUBLE)"
    pair = f"(({y}) IS NOT NULL AND ({x}) IS NOT NULL)"
    return {
        "n": f"count(IF({pair}, 1, NULL))",
        "sx": f"sum(IF({pair}, {xd}, NULL))",
        "sy": f"sum(IF({pair}, {yd}, NULL))",
        "sxx": f"sum(IF({pair}, {xd} * {xd}, NULL))",
        "syy": f"sum(IF({pair}, {yd} * {yd}, NULL))",
        "sxy": f"sum(IF({pair}, {xd} * {yd}, NULL))",
        "xp": f"IF({pair}, {xd}, NULL)",
        "yp": f"IF({pair}, {yd}, NULL)",
    }


def _regr(kind: str) -> Macro:
    """Doris regr_* family (aggregate_function_regr.h): zero-variance x
    (dxx = 0) yields NULL slope/intercept (test_regr_slope sql_int_2
    golden — constant-Y slope is naturally 0 via dxy = 0); no valid
    pairs yields NULL."""

    def m(args: Sequence[str]) -> str:
        p = _regr_parts(args[0], args[1])
        n, sx, sy = p["n"], p["sx"], p["sy"]
        # CENTERED moments via Spark's merge-stable var_pop/covar_pop:
        # the raw-moment form (n*sxx - sx^2) cancels catastrophically
        # for large offsets (regr_slope over ~1e10 bigints must return
        # exactly 1, query_p0/aggregate/support_type goldens)
        xp, yp = p["xp"], p["yp"]
        dxx = f"(var_pop({xp}) * {n})"
        dyy = f"(var_pop({yp}) * {n})"
        dxy = f"(covar_pop({yp}, {xp}) * {n})"
        slope = (f"(CASE WHEN {dxx} = 0 THEN CAST(NULL AS DOUBLE) "
                 f"ELSE {dxy} / {dxx} END)")
        if kind == "count":
            return f"CAST({n} AS BIGINT)"
        guard = f"CASE WHEN {n} > 0 THEN {{v}} END"
        if kind == "avgx":
            return f"({guard.format(v=f'{sx} / {n}')})"
        if kind == "avgy":
            return f"({guard.format(v=f'{sy} / {n}')})"
        # regr_sxx/syy/sxy are the CENTERED SUMS (var_pop * n), not
        # the variances themselves
        if kind == "sxx":
            return f"({guard.format(v=dxx)})"
        if kind == "syy":
            return f"({guard.format(v=dyy)})"
        if kind == "sxy":
            return f"({guard.format(v=dxy)})"
        if kind == "slope":
            return f"({guard.format(v=slope)})"
        if kind == "intercept":
            return f"({guard.format(v=f'({sy} - {slope} * {sx}) / {n}')})"
        # r2: var(x)=0 -> NULL; var(y)=0 -> 1; else corr^2
        return (
            f"(CASE WHEN {n} = 0 OR {dxx} = 0 THEN NULL "
            f"WHEN {dyy} = 0 THEN CAST(1 AS DOUBLE) "
            f"ELSE ({dxy} * {dxy}) / ({dxx} * {dyy}) END)"
        )

    return m


def _foreach(agg: str) -> Macro:
    """Doris <agg>_foreach(array_col) combinator: element-wise aggregate
    across the group's arrays (AggCombinerFunctionBuilder FOREACH)."""

    def m(args: Sequence[str]) -> str:
        a = args[0]
        arrs = f"filter(collect_list({a}), x -> x IS NOT NULL)"
        if agg == "count":
            comb = (
                "transform(sequence(1, greatest(size(acc), size(x))), i -> "
                "coalesce(try_element_at(acc, i), CAST(0 AS BIGINT)) + "
                "IF(try_element_at(x, i) IS NULL, 0, 1))"
            )
            init = "CAST(array() AS ARRAY<BIGINT>)"
        elif agg == "sum":
            comb = (
                "transform(sequence(1, greatest(size(acc), size(x))), i -> "
                "CASE WHEN try_element_at(x, i) IS NULL THEN try_element_at(acc, i) "
                "ELSE coalesce(try_element_at(acc, i), CAST(0 AS DOUBLE)) + "
                "CAST(try_element_at(x, i) AS DOUBLE) END)"
            )
            init = "CAST(array() AS ARRAY<DOUBLE>)"
        elif agg in ("min", "max"):
            f_ = "least" if agg == "min" else "greatest"
            comb = (
                f"transform(sequence(1, greatest(size(acc), size(x))), i -> "
                f"CASE WHEN try_element_at(x, i) IS NULL THEN try_element_at(acc, i) "
                f"WHEN try_element_at(acc, i) IS NULL THEN try_element_at(x, i) "
                f"ELSE {f_}(try_element_at(acc, i), try_element_at(x, i)) END)"
            )
            init = f"slice({arrs}, 1, 0)"
        else:  # avg
            sums = _foreach("sum")([a])
            cnts = _foreach("count")([a])
            return (
                f"zip_with({sums}, {cnts}, (s, c) -> "
                f"CASE WHEN c > 0 THEN s / c END)"
            )
        first = f"CASE WHEN size({arrs}) = 0 THEN NULL ELSE {init} END"
        return f"aggregate({arrs}, {first}, (acc, x) -> {comb})"

    return m


def _fe_wrap(collected: str, body: str) -> str:
    """Shared _foreach frame: body is evaluated per index __i over the
    group's collected arrays C (null rows dropped by collect_list)."""
    return (
        f"CASE WHEN size({collected}) = 0 THEN NULL ELSE "
        f"transform(sequence(1, array_max(transform({collected}, "
        f"__r -> size(__r)))), __i -> {body}) END"
    )


def _foreach1(body_fn) -> Macro:
    """Generic 1-arg <agg>_foreach: body_fn(vals, present) -> per-index
    expression. vals = non-null elements at __i; present = elements
    (nulls kept) where __i <= len (AggCombinerFunctionBuilder FOREACH)."""

    def m(args: Sequence[str]) -> str:
        a = args[0]
        c = f"collect_list({a})"
        vals = (
            f"filter(transform({c}, __r -> try_element_at(__r, __i)), "
            f"__e -> __e IS NOT NULL)"
        )
        present = (
            f"transform(filter({c}, __r -> size(__r) >= __i), "
            f"__r -> element_at(__r, __i))"
        )
        return _fe_wrap(c, body_fn(vals, present))

    return m


def _foreach2(body_fn) -> Macro:
    """Generic 2-arg <agg>_foreach(v_arr, k_arr): body_fn(pairs) where
    pairs = array<struct<v,k>> of index-__i element pairs, both sides
    non-null."""

    def m(args: Sequence[str]) -> str:
        a, b = args[0], args[1]
        c = (
            f"filter(collect_list(named_struct('v', {a}, 'k', {b})), "
            f"__r -> __r.v IS NOT NULL AND __r.k IS NOT NULL)"
        )
        pairs = (
            f"filter(transform({c}, __r -> named_struct("
            f"'v', try_element_at(__r.v, __i), "
            f"'k', try_element_at(__r.k, __i))), "
            f"__p -> __p.v IS NOT NULL AND __p.k IS NOT NULL)"
        )
        coll = f"transform({c}, __r -> __r.v)"
        body = body_fn(pairs)
        return (
            f"CASE WHEN size({c}) = 0 THEN NULL ELSE "
            f"transform(sequence(1, array_max(transform({coll}, "
            f"__r -> size(__r)))), __i -> {body}) END"
        )

    return m


def _fe_sum(v: str) -> str:
    return (f"aggregate({v}, CAST(0 AS DOUBLE), "
            f"(__a, __x) -> __a + CAST(__x AS DOUBLE))")


def _fe_var(vals: str, kind: str) -> str:
    """kind: var_pop | var_samp | std_pop | std_samp. Doris returns 0
    for a single sample, even for the _samp forms. CENTERED moments —
    the mean is computed first (bound once via a 1-element transform)
    and squared deviations accumulate around it; the raw-moment form
    sum(x^2) - sum(x)^2/n catastrophically cancels over large-offset
    values (round-8 ADVICE, mirroring the var_pop-based _regr fix)."""
    n = f"CAST(size({vals}) AS DOUBLE)"
    mean = f"({_fe_sum(vals)} / {n})"
    m2 = (
        f"element_at(transform(array({mean}), __m -> "
        f"aggregate({vals}, CAST(0 AS DOUBLE), (__a, __x) -> "
        f"__a + (CAST(__x AS DOUBLE) - __m) * "
        f"(CAST(__x AS DOUBLE) - __m))), 1)"
    )
    div = n if kind.endswith("pop") else f"({n} - 1)"
    core = f"greatest({m2}, CAST(0 AS DOUBLE)) / {div}"
    if kind.startswith("std"):
        core = f"sqrt({core})"
    return (f"CASE WHEN size({vals}) = 0 THEN NULL "
            f"WHEN size({vals}) = 1 THEN CAST(0 AS DOUBLE) "
            f"ELSE {core} END")


def _fe_cov(pairs: str, kind: str) -> str:
    """kind: cov_pop | cov_samp | corr (pairwise over struct<v,k>).
    CENTERED moments around the two means (bound once via a 1-element
    transform) — raw-moment sums cancel over large offsets (round-8
    ADVICE, mirroring the _regr fix)."""
    n = f"CAST(size({pairs}) AS DOUBLE)"
    mx = f"({_fe_sum(f'transform({pairs}, __p -> __p.v)')} / {n})"
    my = f"({_fe_sum(f'transform({pairs}, __p -> __p.k)')} / {n})"
    ms = f"array(named_struct('x', {mx}, 'y', {my}))"
    dxy = (
        f"element_at(transform({ms}, __m -> "
        f"aggregate({pairs}, CAST(0 AS DOUBLE), (__a, __p) -> "
        f"__a + (CAST(__p.v AS DOUBLE) - __m.x) * "
        f"(CAST(__p.k AS DOUBLE) - __m.y))), 1)"
    )
    dxx = (
        f"element_at(transform({ms}, __m -> "
        f"aggregate({pairs}, CAST(0 AS DOUBLE), (__a, __p) -> "
        f"__a + (CAST(__p.v AS DOUBLE) - __m.x) * "
        f"(CAST(__p.v AS DOUBLE) - __m.x))), 1)"
    )
    dyy = (
        f"element_at(transform({ms}, __m -> "
        f"aggregate({pairs}, CAST(0 AS DOUBLE), (__a, __p) -> "
        f"__a + (CAST(__p.k AS DOUBLE) - __m.y) * "
        f"(CAST(__p.k AS DOUBLE) - __m.y))), 1)"
    )
    if kind == "corr":
        # zero variance -> Doris returns 0 (and ANSI mode must not see
        # a bare /0): nullif the denominator, coalesce the result
        core = (f"coalesce({dxy} / nullif(sqrt("
                f"greatest({dxx}, CAST(0 AS DOUBLE)) * "
                f"greatest({dyy}, CAST(0 AS DOUBLE))), "
                f"CAST(0 AS DOUBLE)), CAST(0 AS DOUBLE))")
    else:
        div = n if kind == "cov_pop" else f"({n} - 1)"
        core = f"{dxy} / {div}"
    return (f"CASE WHEN size({pairs}) = 0 THEN NULL "
            f"WHEN size({pairs}) = 1 THEN CAST(0 AS DOUBLE) "
            f"ELSE {core} END")


def _fe_minmax_by(pairs: str, last: bool) -> str:
    pos = "-1" if last else "1"
    return (f"element_at(array_sort(transform({pairs}, "
            f"__p -> named_struct('k', __p.k, 'v', __p.v))), {pos}).v")


def _fe_count_by_enum(_vals: str, present: str) -> str:
    """Per-index Doris count_by_enum JSON (see _count_by_enum_macro),
    emitted as a JSON STRING so get_json_string() paths apply."""
    nn = f"filter({present}, __e -> __e IS NOT NULL)"
    sv = f"transform({nn}, __e -> CAST(__e AS STRING))"
    return (
        f"to_json(array(named_struct("
        f"'cbe', map_from_entries(transform(array_distinct({sv}), "
        f"__v -> struct(__v, CAST(size(filter({sv}, __x -> __x = __v)) "
        f"AS BIGINT)))), "
        f"'notnull', CAST(size({nn}) AS BIGINT), "
        f"'null', CAST(size({present}) - size({nn}) AS BIGINT), "
        f"'all', CAST(size({present}) AS BIGINT))))"
    )


def _fe_histogram(vals: str, _present: str) -> str:
    """Per-index Doris histogram JSON string (shape of
    _histogram_macro, over the index-__i element array)."""
    dv = f"array_sort(array_distinct({vals}))"
    cnt = "size(filter({vals}, __e -> __e <=> {v}))"
    return (
        f"to_json(named_struct('num_buckets', size({dv}), 'buckets', "
        f"transform({dv}, (__v, __j) -> named_struct("
        f"'lower', CAST(__v AS STRING), 'upper', CAST(__v AS STRING), "
        f"'ndv', 1, "
        f"'count', CAST({cnt.format(vals=vals, v='__v')} AS BIGINT), "
        f"'pre_sum', aggregate(slice({dv}, 1, __j), CAST(0 AS BIGINT), "
        f"(__a, __u) -> __a + {cnt.format(vals=vals, v='__u')})))))"
    )


def _date_arith(args: Sequence[str], sign: str) -> str:
    """2-arg date_add/date_sub (see the MACROS entry comment above the
    registrations): expands to the TYPED TIMESTAMP shape. Day-count
    forms — bare integer second arg, or a literal/non-literal
    `INTERVAL n DAY` — emit the exact `make_interval(0, 0, 0,
    CAST((n) AS INT))` template that the analyzer rule
    `doris_spark/jvm/src/dorisspark/DorisTypes.java` matches, resolved,
    to narrow DATE inputs back to Spark's date_add/date_sub: keep the
    two in sync. Other interval units keep their
    interval expression (timestamp-typed; the comparator compares
    datetime instants semantically). The macro path handles argument
    expressions of ANY nesting depth — the dialect's regex tier only
    catches shallow ones."""
    if len(args) != 2:
        return "__KEEP__(" + ", ".join(args) + ")"
    x, n = args[0], args[1]
    if re.match(r"\s*INTERVAL\b", n, re.I):
        ivl = _interval_expr(n)
        if ivl is None:
            return "__KEEP__(" + ", ".join(args) + ")"
        dm = re.match(r"\s*INTERVAL\s+([+-]?\d+)\s+DAYS?\s*$", ivl, re.I)
        if dm:
            return (
                f"(CAST(({x}) AS TIMESTAMP) {sign} "
                f"make_interval(0, 0, 0, CAST(({dm.group(1)}) AS INT)))"
            )
        return f"(CAST(({x}) AS TIMESTAMP) {sign} {ivl})"
    return (
        f"(CAST(({x}) AS TIMESTAMP) {sign} "
        f"make_interval(0, 0, 0, CAST(({n}) AS INT)))"
    )


def _array_join_macro(args: Sequence[str]) -> str:
    """Doris array_join rendering rules (see the MACROS entry comment):
    booleans as 1/0; array<datetimev2(n)> elements padded to exactly n
    fractional digits via the DDL-time column hint."""
    if len(args) not in (2, 3):
        return "__KEEP__(" + ", ".join(args) + ")"
    from doris_spark.plans.type_hints import array_datetime_scale

    rest = ", ".join(args[1:])
    n = array_datetime_scale(args[0])
    if n:
        return (
            f"array_join(transform({args[0]}, __e -> "
            f"date_format(__e, 'yyyy-MM-dd HH:mm:ss.{'S' * n}')), {rest})"
        )
    return (
        f"array_join(transform({args[0]}, __e -> CASE WHEN typeof(__e) = "
        "'boolean' THEN IF(CAST(__e AS STRING) = 'true', '1', '0') "
        f"ELSE CAST(__e AS STRING) END), {rest})"
    )


def _nan_null(fn: str) -> Macro:
    """Doris acos/asin/acosh/atanh/sqrt: a NaN INPUT propagates NaN,
    but an out-of-domain input (NaN result) or a pole (infinite result
    from a finite input, atanh(1)) returns NULL, where Spark keeps the
    IEEE NaN/Inf (test_math_function goldens). atan2 is NOT wrapped."""

    def m(args: Sequence[str]) -> str:
        if len(args) != 1:
            return "__KEEP__(" + ", ".join(args) + ")"
        x = f"CAST(({args[0]}) AS DOUBLE)"
        f_ = f"{fn}({x})"
        return (
            f"(CASE WHEN isnan({x}) THEN {x} "
            f"WHEN isnan({f_}) THEN CAST(NULL AS DOUBLE) "
            f"WHEN abs({f_}) = CAST('Infinity' AS DOUBLE) AND "
            f"abs({x}) <> CAST('Infinity' AS DOUBLE) "
            f"THEN CAST(NULL AS DOUBLE) ELSE {f_} END)"
        )

    return m


def _pctl_macro(a: Sequence[str], arr: bool) -> str:
    """Doris percentile/percentile_array: NaN inputs excluded, all-NaN
    group -> NaN (per probe for the array form), empty array form ->
    []."""
    x = a[0]
    nn = (f"(CASE WHEN NOT isnan(CAST(({x}) AS DOUBLE)) "
          f"THEN ({x}) END)")
    allnan = f"count({x}) > 0 AND count({nn}) = 0"
    if arr:
        return (
            f"(CASE WHEN {allnan} THEN "
            f"transform(CAST({a[1]} AS ARRAY<DOUBLE>), "
            f"__p -> CAST('NaN' AS DOUBLE)) "
            f"ELSE coalesce(percentile({nn}, {', '.join(a[1:])}), "
            f"CAST(array() AS ARRAY<DOUBLE>)) END)"
        )
    return (
        f"(CASE WHEN {allnan} THEN CAST('NaN' AS DOUBLE) "
        f"ELSE percentile({nn}, {', '.join(a[1:])}) END)"
    )


def _ema_macro(a: Sequence[str]) -> str:
    hd, v, t = a
    pairs = (
        f"filter(collect_list(named_struct('v', CAST(({v}) AS DOUBLE), "
        f"'t', CAST(({t}) AS DOUBLE))), "
        f"p -> p.v IS NOT NULL AND p.t IS NOT NULL)"
    )
    mx = f"array_max(transform({pairs}, p -> p.t))"
    s = (
        f"aggregate({pairs}, CAST(0 AS DOUBLE), (acc, p) -> "
        f"acc + p.v * pow(2.0, (p.t - {mx}) / CAST(({hd}) AS DOUBLE)))"
    )
    return (
        f"(CASE WHEN size({pairs}) = 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN CAST(({hd}) AS DOUBLE) <= 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE {s} * (1.0 - pow(2.0, -1.0 / CAST(({hd}) AS DOUBLE))) END)"
    )


def _atan2_macro(a: Sequence[str]) -> str:
    # expansions are not re-scanned by rewrite(), so emitting atan2()
    # here cannot recurse into this macro again
    if any("-0" in x or "__str_to_double" in x for x in a):
        return f"__py_atan2({a[0]}, {a[1]})"
    return f"atan2({a[0]}, {a[1]})"


# MySQL block_encryption_mode session variable: picked up at REWRITE
# time by the aes/sm4 macros below (statements run sequentially)
_BLOCK_ENCRYPTION_MODE = {"value": ""}


def set_block_encryption_mode(v: str) -> None:
    _BLOCK_ENCRYPTION_MODE["value"] = (v or "").upper()


def _bem_for(algo: str) -> str:
    v = _BLOCK_ENCRYPTION_MODE["value"]
    if v.startswith(algo.upper() + "_"):
        return v
    return f"{algo.upper()}_128_ECB"


# named key objects (CREATE ENCRYPTKEY name AS '...'; referenced as
# `KEY name` inside aes/sm4 calls, case-insensitive —
# encryption_digest/key_case_sensitive.groovy)
ENCRYPT_KEYS: dict[str, str] = {}


def _resolve_keyref(arg: str) -> str:
    km = re.fullmatch(r"(?is)\s*KEY\s+`?(\w+)`?\s*", arg)
    if km and km.group(1).lower() in ENCRYPT_KEYS:
        v = ENCRYPT_KEYS[km.group(1).lower()].replace("'", "''")
        return f"'{v}'"
    return arg


def _cipher_macro(algo: str, op: str) -> "Macro":
    """aes/sm4 encrypt/decrypt with MySQL semantics (functions/crypto.py
    kernel): 2-arg uses the block_encryption_mode session variable,
    3-arg adds the init vector, 4-arg names the mode explicitly.
    Ciphertext stays BINARY end-to-end (a from_base64 STRING hop would
    mangle non-UTF8 bytes — swap it for unbase64)."""

    def m(args: Sequence[str]) -> str:
        if not 2 <= len(args) <= 5:
            return f"__KEEP__({', '.join(args)})"
        args = [_resolve_keyref(a) for a in args]
        payload = args[0]
        if op == "dec":
            payload = re.sub(
                r"(?i)\bfrom_base64\s*\(", "unbase64(", payload)
        iv = args[2] if len(args) >= 3 else "NULL"
        mode = args[3] if len(args) >= 4 else f"'{_bem_for(algo)}'"
        aad = args[4] if len(args) == 5 else "NULL"
        core = (
            f"__doris_cipher('{op}', CAST({payload} AS BINARY), "
            f"CAST({args[1]} AS BINARY), CAST({iv} AS BINARY), {mode}, "
            f"CAST({aad} AS BINARY))"
        )
        return core if op == "enc" else f"CAST({core} AS STRING)"

    return m


def _round_scale_macro(mode: str) -> "Macro":
    """round/floor/ceil/truncate(x, scale): Doris accepts a NON-FOLDABLE
    scale (column/expression) and keeps exact decimal semantics for
    wide decimals; Spark's natives require a foldable scale and the
    double-backed UDFs lose >15-digit precision. Route those shapes to
    the __doris_round_dyn kernel; everything else keeps the native
    path (__KEEP__)."""

    def m(args: Sequence[str]) -> str:
        if len(args) == 1:
            if mode == "truncate":
                return f"__KEEP__({args[0]}, 0)"
            return "__KEEP__(" + ", ".join(args) + ")"
        if len(args) != 2:
            return "__KEEP__(" + ", ".join(args) + ")"
        lit_scale = re.fullmatch(r"\s*-?\d+\s*", args[1])
        wide_dec = False
        cm = re.fullmatch(r"\s*`?(\w+)`?\s*", args[0])
        if cm and not cm.group(1).isdigit():
            from doris_spark.plans import type_hints as th

            ty = th.lookup(cm.group(1)) or ""
            tm = re.fullmatch(r"decimal(?:v2|v3)?\((\d+),(\d+)\)", ty)
            wide_dec = bool(tm and int(tm.group(1)) > 15)
        if lit_scale and not wide_dec:
            return "__KEEP__(" + ", ".join(args) + ")"
        return (
            f"__doris_round_dyn(CAST({args[0]} AS STRING), "
            f"CAST({args[1]} AS INT), '{mode}', typeof({args[0]}))"
        )

    return m


def _mmh3_macro(kernel: str, cast: str | None = None) -> "Macro":
    """Variadic murmur_hash3_* -> one kernel call over an array of the
    stringified args (the FE casts every argument to VARCHAR before
    hashing)."""

    def m(args: Sequence[str]) -> str:
        arr = ", ".join(f"CAST({a} AS STRING)" for a in args)
        core = f"{kernel}(array({arr}))"
        return f"CAST({core} AS {cast})" if cast else core

    return m


def _split_part(args: Sequence[str]) -> str:
    """Doris split_part(s, sep, n): NULL for n = 0, an empty or absent
    separator, or n past the last part; a negative n counts parts from
    the right. A positive literal n runs Spark's native split_part, which
    returns '' past the last part, inside a CASE that keeps those NULLs;
    any other n runs the `__split_part` kernel."""
    if len(args) != 3:
        return "__KEEP__(" + ", ".join(args) + ")"
    s, sep, n = args
    if not re.fullmatch(r"\s*\d+\s*", n) or int(n) == 0:
        return f"__split_part({s}, {sep}, CAST({n} AS INT))"
    n = int(n)
    # n - 1 separators must occur: each one replaced by '' shortens s by
    # length(sep), as split_part counts them (left to right, no overlap)
    return (
        f"(CASE WHEN {sep} <> '' AND instr({s}, {sep}) > 0"
        f" AND length({s}) - length(replace({s}, {sep}, '')) >= {n - 1} * length({sep})"
        f" THEN split_part({s}, {sep}, {n}) END)"
    )


MACROS: dict[str, Macro] = {
    # Doris reports a MySQL-compatible version string
    # (GlobalVariable.java VERSION = "5.7.99")
    "version": lambda a: ("'5.7.99'" if not a or a == [""]
                          else "__KEEP__(" + ", ".join(a) + ")"),
    # MySQL CONVERT(x, TYPE); the USING-charset form stays native.
    # Doris type spellings map here (macros run AFTER the dialect's
    # type tiers, so emit Spark types directly)
    "convert": lambda a: (
        "CAST({} AS {})".format(
            a[0],
            re.sub(
                r"(?i)^\s*(datetimev?2?|timestamp)\s*(\(\s*\d+\s*\))?"
                r"\s*$", "TIMESTAMP",
                re.sub(r"(?i)^\s*(signed|unsigned)(\s+int(eger)?)?\s*$",
                       "BIGINT",
                       re.sub(r"(?i)^\s*(var)?char\s*(\(\s*\d+\s*\))?"
                              r"\s*$", "STRING", a[1].strip()))),
        )
        if len(a) == 2 and not re.search(r"(?i)\busing\b", a[0])
        else "__KEEP__(" + ", ".join(a) + ")"),
    # unix_timestamp over DATE/packed columns: Spark applies the default
    # FORMAT to non-timestamp inputs and errors on DATE — route through
    # STRING so numeric inputs parse as Doris packed digits (yyyyMMdd /
    # yyyyMMddHHmmss; a plain int like 3 is an invalid datetime -> NULL,
    # NOT epoch+3s), and clamp out-of-range results to 0 (Doris returns
    # 0 outside [1970-01-01, 2038-01-19 03:14:07])
    "unix_timestamp": lambda a: (
        "CASE WHEN __uts_{u} IS NULL THEN NULL "
        "WHEN unix_timestamp(__uts_{u}) BETWEEN 0 AND 2147483647 "
        "THEN unix_timestamp(__uts_{u}) ELSE 0 END".replace(
            "__uts_{u}",
            "(CASE WHEN CAST(({0}) AS STRING) RLIKE '^[0-9]{{5,14}}$' "
            "THEN __dt_from_numeric(try_cast(CAST(({0}) AS STRING)"
            " AS BIGINT)) "
            "ELSE try_cast(CAST(({0}) AS STRING) AS TIMESTAMP) END)".format(
                a[0]))
        if len(a) == 1 and a[0].strip()
        else "__KEEP__(" + ", ".join(a) + ")"),
    # Doris regexp_extract_all returns the STRING render ['a','b'] of
    # the first capture group's matches. Only rewritten when the
    # pattern is a literal containing a capture group — column patterns
    # keep Spark's array form (R.groovy's group-less column patterns
    # ride the existing fallback path)
    "regexp_extract_all": lambda a: (
        "CASE WHEN ({s}) IS NULL THEN NULL "
        "ELSE concat('[', concat_ws(',', transform("
        "regexp_extract_all({s}, {p}, 1), "
        "__x -> concat('\\'', __x, '\\''))), ']') END".format(
            s=a[0], p=a[1])
        if len(a) == 2
        and re.match(r"^\s*'[^']*\([^']*'\s*$", a[1])
        and "\\(" not in a[1]
        else "__KEEP__(" + ", ".join(a) + ")"),
    "acos": _nan_null("acos"),
    "asin": _nan_null("asin"),
    "acosh": _nan_null("acosh"),
    "atanh": _nan_null("atanh"),
    "sqrt": _nan_null("sqrt"),
    # 2-arg atan is Doris's atan2 alias; 1-arg passes through. A
    # signed-zero operand needs the python kernel (Spark's Atan2 adds
    # +0.0 to both operands, collapsing the -0.0 quadrants).
    "atan": lambda a: (_atan2_macro(a) if len(a) == 2
                       else "__KEEP__(" + ", ".join(a) + ")"),
    "atan2": lambda a: (_atan2_macro(a) if len(a) == 2
                        else "__KEEP__(" + ", ".join(a) + ")"),
    # time_to_sec over a TYPED datetime/date takes the time-of-day
    # (Doris datetime->TIME cast); STRING inputs keep the strict TIME
    # parse in the registered UDF (datetime STRINGS are NOT valid TIME)
    "time_to_sec": lambda a: (
        (
            f"(CASE WHEN typeof({a[0]}) IN ('timestamp', 'timestamp_ntz'"
            f", 'date') THEN hour({a[0]}) * 3600 + minute({a[0]}) * 60 "
            f"+ second({a[0]}) "
            f"ELSE time_to_sec(CAST(({a[0]}) AS STRING)) END)"
        )
        if len(a) == 1
        else "__KEEP__(" + ", ".join(a) + ")"
    ),
    "grouping_id": _grouping_id_macro,
    "count_by_enum": _count_by_enum_macro,
    "regr_slope": _regr("slope"),
    "regr_intercept": _regr("intercept"),
    "regr_r2": _regr("r2"),
    "regr_count": _regr("count"),
    "regr_avgx": _regr("avgx"),
    "regr_avgy": _regr("avgy"),
    "regr_sxx": _regr("sxx"),
    "regr_syy": _regr("syy"),
    "regr_sxy": _regr("sxy"),
    "sum_foreach": _foreach("sum"),
    "count_foreach": _foreach("count"),
    "min_foreach": _foreach1(lambda v, p: f"array_min({v})"),
    "max_foreach": _foreach1(lambda v, p: f"array_max({v})"),
    "avg_foreach": _foreach("avg"),
    # generic FOREACH combinators (AggCombinerFunctionBuilder): stats
    "stddev_foreach": _foreach1(lambda v, p: _fe_var(v, "std_pop")),
    "stddev_pop_foreach": _foreach1(lambda v, p: _fe_var(v, "std_pop")),
    "stddev_samp_foreach": _foreach1(lambda v, p: _fe_var(v, "std_samp")),
    "variance_foreach": _foreach1(lambda v, p: _fe_var(v, "var_pop")),
    "var_pop_foreach": _foreach1(lambda v, p: _fe_var(v, "var_pop")),
    "variance_pop_foreach": _foreach1(lambda v, p: _fe_var(v, "var_pop")),
    "var_samp_foreach": _foreach1(lambda v, p: _fe_var(v, "var_samp")),
    "variance_samp_foreach": _foreach1(
        lambda v, p: _fe_var(v, "var_samp")),
    "covar_foreach": _foreach2(lambda pr: _fe_cov(pr, "cov_pop")),
    "covar_pop_foreach": _foreach2(lambda pr: _fe_cov(pr, "cov_pop")),
    "covar_samp_foreach": _foreach2(lambda pr: _fe_cov(pr, "cov_samp")),
    "corr_foreach": _foreach2(lambda pr: _fe_cov(pr, "corr")),
    "min_by_foreach": _foreach2(lambda pr: _fe_minmax_by(pr, False)),
    "max_by_foreach": _foreach2(lambda pr: _fe_minmax_by(pr, True)),
    "avg_weighted_foreach": _foreach2(
        lambda pr: (
            _fe_sum("transform(" + pr + ", __p -> CAST(__p.v AS DOUBLE)"
                    " * CAST(__p.k AS DOUBLE))")
            + " / nullif("
            + _fe_sum("transform(" + pr + ", __p -> __p.k)") + ", 0)"
        )),
    "approx_count_distinct_foreach": _foreach1(
        lambda v, p: f"CAST(size(array_distinct({v})) AS BIGINT)"),
    "ndv_foreach": _foreach1(
        lambda v, p: f"CAST(size(array_distinct({v})) AS BIGINT)"),
    "array_agg_foreach": _foreach1(lambda v, p: p),
    "collect_list_foreach": _foreach1(lambda v, p: p),
    "count_by_enum_foreach": _foreach1(_fe_count_by_enum),
    "histogram_foreach": _foreach1(_fe_histogram),
    "histogram": _histogram_macro,
    "hist": _histogram_macro,
    "linear_histogram": _linear_histogram_macro,
    "intersect_count": _intersect_count_macro,
    "sequence_match": lambda a: _seq_fold(a, count=False),
    "sequence_count": lambda a: _seq_fold(a, count=True),
    "window_funnel": _window_funnel_macro,
    "window_funnel_v2": _window_funnel_macro,
    # Doris *_samp of a single value is 0.0, not NULL (agg_sync_mv)
    "stddev_samp": _tpl(
        "(CASE WHEN count({0}) = 1 THEN CAST(0 AS DOUBLE) "
        "ELSE stddev_samp({0}) END)"
    ),
    "var_samp": _tpl(
        "(CASE WHEN count({0}) = 1 THEN CAST(0 AS DOUBLE) "
        "ELSE var_samp({0}) END)"
    ),
    "covar_samp": _tpl(
        "(CASE WHEN count(IF(({0}) IS NOT NULL AND ({1}) IS NOT NULL, 1, "
        "NULL)) = 1 THEN CAST(0 AS DOUBLE) ELSE covar_samp({0}, {1}) END)"
    ),
    # intersection of every group array (reference
    # aggregate_function_group_array_intersect.h); order is unspecified
    # in Doris — emit sorted
    # NULL elements are values (null-safe <=> probe); a NULL ARRAY row
    # is an empty set, zeroing the whole intersection
    "group_array_intersect": _tpl(
        "array_sort(CASE WHEN count({0}) < count(1) THEN "
        "filter(flatten(collect_list({0})), __e -> false) "
        "ELSE filter(array_distinct(flatten(collect_list({0}))), "
        "e -> size(filter(collect_list({0}), "
        "b -> exists(b, __x -> __x <=> e)))"
        " = size(collect_list({0}))) END)"
    ),
    # Doris corr returns 0.0 (not NULL) when either side has zero
    # variance (nereids_syntax_p0/mv agg_sync_mv select_corr golden)
    "corr": _tpl(
        "(CASE WHEN count(IF(({0}) IS NOT NULL AND ({1}) IS NOT NULL, 1, "
        "NULL)) > 0 THEN coalesce(corr({0}, {1}), CAST(0 AS DOUBLE)) END)"
    ),
    # ---- plain renames (BuiltinAggregateFunctions.java name -> Spark)
    "ndv": _rename("approx_count_distinct"),
    # variadic crc32 over the arguments' internal value layouts — the
    # pandas kernel (pyfns.register_crc32_internal) dispatches on
    # typeof(); Spark DATE/TIMESTAMP hash as Doris's modern DATEV2/
    # DATETIMEV2 packed forms (V1 callers cast to STRING first)
    # Doris positive/negative signatures are BIGINT/DOUBLE/DECIMAL only
    # (nereids .../scalar/Positive.java SIGNATURES) — integer inputs
    # promote to BIGINT; `+ 0L` reproduces that promotion in Spark while
    # leaving double/decimal unchanged (observable through typeof and
    # crc32_internal's width-sensitive hashing)
    # bitmap = sorted array<bigint> representation: to_array is the
    # identity — inlined so LATERAL VIEW explode works (Spark bans SQL
    # UDFs inside Generate)
    "bitmap_to_array": lambda args: f"({args[0]})",
    # 1-arg mask_first_n/mask_last_n mask the WHOLE string (reference
    # function_string.cpp defaults n to the string length, unlike Hive's
    # n=4); 2-arg forms resolve to the registered SQL UDFs
    "mask_first_n": lambda args: (
        f"mask({args[0]})"
        if len(args) == 1
        else f"mask_first_n({', '.join(args)})"
    ),
    "mask_last_n": lambda args: (
        f"mask({args[0]})"
        if len(args) == 1
        else f"mask_last_n({', '.join(args)})"
    ),
    "positive": lambda args: f"(({args[0]}) + 0L)",
    "negative": lambda args: f"(-(({args[0]}) + 0L))",
    "crc32_internal": lambda args: (
        "__crc32_internal(array("
        + ", ".join(f"CAST({a} AS STRING)" for a in args)
        + "), array("
        + ", ".join(f"typeof({a})" for a in args)
        + "))"
    ),
    # Doris `any` IS any_value (Spark's `any` is bool_or)
    # Doris any/any_value returns the first NON-NULL in storage order
    # (query_p0/subquery select_having2 golden); Spark's 2-arg form
    # ignore-nulls flag reproduces it over the order-preserving replay
    "any": _tpl("any_value({0}, true)"),
    "any_value": _tpl("any_value({0}, true)"),
    # Doris array_agg KEEPS null elements (aggregate_function_collect.h
    # ArrayAgg); Spark's collect_list drops them — struct-wrap each
    # element so nulls survive the collect
    "array_agg": _tpl(
        "transform(collect_list(named_struct('v', ({0}))), __s -> __s.v)"
    ),
    "group_array": _collect_with_limit("collect_list"),
    "group_uniq_array": _collect_with_limit("collect_set"),
    "collect_list": _collect_with_limit("collect_list"),
    "collect_set": _collect_with_limit("collect_set"),
    # MySQL default separator is ',' (query_p0/group_concat goldens);
    # an `ORDER BY` inside the call becomes Spark's WITHIN GROUP
    "group_concat": lambda args: _group_concat_macro(args),
    "variance_pop": _rename("var_pop"),
    "variance_samp": _tpl(
        "(CASE WHEN count({0}) = 1 THEN CAST(0 AS DOUBLE) "
        "ELSE var_samp({0}) END)"
    ),
    # MySQL/Doris STDDEV/VARIANCE are the POPULATION forms (Spark's
    # bare stddev/variance are sample)
    "stddev": _rename("stddev_pop"),
    "std": _rename("stddev_pop"),
    "variance": _rename("var_pop"),
    "skew": _rename("skewness"),
    "skew_pop": _rename("skewness"),
    "kurt": _rename("kurtosis"),
    "kurt_pop": _rename("kurtosis"),
    "covar": _rename("covar_pop"),
    "corr_welford": _tpl(
        "(CASE WHEN count(IF(({0}) IS NOT NULL AND ({1}) IS NOT NULL, 1, "
        "NULL)) > 0 THEN coalesce(corr({0}, {1}), CAST(0 AS DOUBLE)) END)"
    ),
    "booland_agg": _rename("bool_and"),
    "sum": lambda a: _sum_bool_aware(a, False),
    # union-of-bitmaps cardinality (orthogonal variant computes the
    # same total; the BE splits work by bucket — Catalyst already does)
    "orthogonal_bitmap_union_count": _tpl(
        "CAST(size(array_distinct(flatten(collect_list({0})))) AS BIGINT)"
    ),
    "boolor_agg": _rename("bool_or"),
    # group_bit_* (nereids_function_p0/agg_function/agg.groovy
    # LargeInt family): LARGEINT columns are DOUBLE-backed, so bit ops
    # over a largeint hint take a BIGINT cast
    "group_bit_and": lambda a: _group_bit("and", a),
    "group_bit_or": lambda a: _group_bit("or", a),
    "group_bit_xor": lambda a: _group_bit("xor", a),
    "ds_hll_estimate": _rename("approx_count_distinct"),
    "datasketches_hll_estimate": _rename("approx_count_distinct"),
    # empty group -> [] (Doris percentile_array contract)
    "percentile_array": lambda a: (
        _pctl_macro(a, arr=True) if len(a) >= 2
        else "__KEEP__(" + ", ".join(a) + ")"),
    # ClickHouse-lineage exponentialMovingAverage(half_decay)(v, t):
    # sum(v_i * 2^((t_i - t_max)/hd)) scaled by (1 - 2^(-1/hd)) — the
    # infinite-series weight normalization (query_p0 goldens: single row
    # hd=1 -> v/2). hd <= 0 degenerates to 0; empty group -> NULL.
    "exponential_moving_average": lambda a: (
        _ema_macro(a) if len(a) == 3
        else "__KEEP__(" + ", ".join(a) + ")"),
    # Doris max_by/min_by skip rows whose VALUE is NULL (Spark returns
    # the null) — null out the key so Spark skips them too
    "max_by": lambda a: (
        f"max_by({a[0]}, IF(({a[0]}) IS NOT NULL, {a[1]}, NULL))"
        if len(a) == 2 else "__KEEP__(" + ", ".join(a) + ")"),
    "min_by": lambda a: (
        f"min_by({a[0]}, IF(({a[0]}) IS NOT NULL, {a[1]}, NULL))"
        if len(a) == 2 else "__KEEP__(" + ", ".join(a) + ")"),
    # Doris percentile family EXCLUDES NaN inputs (Spark sorts them
    # last); an all-NaN group returns NaN
    "percentile": lambda a: (
        _pctl_macro(a, arr=False) if len(a) >= 2
        else "__KEEP__(" + ", ".join(a) + ")"),
    "percentile_reservoir": _rename("percentile_approx"),
    # Doris percentile_approx is a t-digest (interpolating); Spark's is
    # a non-interpolating GK sketch — the exact interpolating
    # percentile matches the t-digest on suite-sized groups
    "percentile_approx": lambda a: (
        (lambda nn:
            f"(CASE WHEN count({a[0]}) > 0 AND count({nn}) = 0 THEN "
            f"CAST('NaN' AS DOUBLE) ELSE "
            f"percentile({nn}, CAST(({a[1]}) AS DOUBLE)) END)"
         )(f"(CASE WHEN NOT isnan(CAST(({a[0]}) AS DOUBLE)) "
           f"THEN ({a[0]}) END)")
        if len(a) in (2, 3) else "__KEEP__(" + ", ".join(a) + ")"),
    "hist": _rename("histogram_numeric"),
    # ---- composite expansions
    "sum0": lambda a: _sum_bool_aware(a, True),
    "multi_distinct_count": _tpl("count(DISTINCT {0})"),
    "multi_distinct_sum": _tpl("sum(DISTINCT {0})"),
    "multi_distinct_sum0": _tpl("coalesce(sum(DISTINCT {0}), 0)"),
    "multi_distinct_group_concat": _tpl("listagg(DISTINCT {0}, ',')"),
    "bool_xor": _tpl("(count_if({0}) % 2 = 1)"),
    "boolxor_agg": _tpl("(count_if({0}) % 2 = 1)"),
    # DISTINCT form dedups (value, weight) PAIRS before the weighted
    # fold (FE distinct-agg semantics) — expressed as a collect_set of
    # struct pairs so no extra grouping level is needed
    "avg_weighted": lambda args: (
        (
            "(aggregate(collect_set(struct(({0}) AS x, ({1}) AS w)), "
            "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.x * e.w) / "
            "aggregate(collect_set(struct(({0}) AS x, ({1}) AS w)), "
            "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.w))"
        ).format(
            re.sub(r"(?i)^\s*DISTINCT\s+", "", args[0]), args[1]
        )
        if re.match(r"(?i)\s*DISTINCT\s", args[0])
        # PAIRWISE null filtering (a null value must not leave its
        # weight in the denominator — aggregate.groovy aggregate33);
        # all-zero weights divide 0/0 -> Doris renders NaN, not NULL
        else (
            "(CASE WHEN sum(IF(({0}) IS NOT NULL, ({1}), NULL)) = 0 "
            "AND count(IF(({0}) IS NOT NULL AND ({1}) IS NOT NULL, 1, "
            "NULL)) > 0 THEN CAST('NaN' AS DOUBLE) "
            "ELSE sum(({0}) * ({1})) / "
            "sum(IF(({0}) IS NOT NULL, ({1}), NULL)) END)"
        ).format(args[0], args[1])
    ),
    "sem": _tpl("(stddev_samp({0}) / sqrt(count({0})))"),
    # MySQL-semantics block ciphers (functions/crypto.py): XOR-folded
    # keys + block_encryption_mode session variable — Spark's builtin
    # aes_encrypt (GCM, raw key) is byte-incompatible
    "aes_encrypt": _cipher_macro("AES", "enc"),
    "aes_decrypt": _cipher_macro("AES", "dec"),
    "sm4_encrypt": _cipher_macro("SM4", "enc"),
    "sm4_decrypt": _cipher_macro("SM4", "dec"),
    # binary-preserving to_base64 (the SQL-UDF form would coerce a
    # BINARY ciphertext through STRING and mangle it)
    "to_base64": _tpl("base64(CAST({0} AS BINARY))"),
    # Doris MurmurHash3 family (util/hash/murmur_hash3.cpp): variadic
    # args CHAIN (each arg hashed with the previous result as seed);
    # the 32-bit family seeds 104729 (hash_util.hpp MURMUR3_32_SEED)
    "murmur_hash3_32": _mmh3_macro("__mmh3_32"),
    "murmur_hash3_64": _mmh3_macro("__mmh3_64"),
    "murmur_hash3_64_v2": _mmh3_macro("__mmh3_64_v2"),
    "murmur_hash3_u64_v2": _mmh3_macro(
        "__mmh3_u64_v2", "DECIMAL(38,0)"),
    "murmur_hash3_128": _mmh3_macro("__mmh3_128"),
    "murmur_hash3_u128": _mmh3_macro("__mmh3_u128"),
    "xxhash_32": _mmh3_macro("__xxh_32"),
    "xxhash_64": _mmh3_macro("__xxh_64"),
    # SM3 digest: sm3sum concatenates its args (md5sum-style); sm3 is
    # its registered alias
    "sm3": _mmh3_macro("__sm3"),
    "sm3sum": _mmh3_macro("__sm3"),
    # Doris unhex renders TEXT (Spark's returns binary, which the
    # collector shows as b'...'); money_format shares format_round's
    # decimal-exact kernel (half-up, not format_number's half-even)
    "unhex": _tpl("CAST(unhex({0}) AS STRING)"),
    "money_format": _tpl(
        "__format_round(CAST({0} AS STRING), 2, typeof({0}))"),
    # initcap capitalizes after ANY non-alphanumeric (Spark only splits
    # on whitespace)
    "initcap": _tpl("__doris_initcap({0})"),
    "split_part": _split_part,
    # string<->int codec (function_encode_varchar.cpp): reversed bytes
    # packed into the int's high bytes; largeint returns as text (the
    # 127-bit range exceeds DECIMAL(38))
    "encode_as_smallint": _tpl(
        "CAST(__encode_varchar({0}, 2) AS SMALLINT)"),
    "encode_as_int": _tpl("CAST(__encode_varchar({0}, 4) AS INT)"),
    "encode_as_bigint": _tpl("CAST(__encode_varchar({0}, 8) AS BIGINT)"),
    "encode_as_largeint": _tpl("__encode_varchar({0}, 16)"),
    "decode_as_varchar": _tpl(
        "__decode_varchar(CAST({0} AS STRING), typeof({0}))"),
    # 1-arg format_number is the HUMANIZER (12345 -> '12.3K'); the
    # 2-arg form stays Spark's native thousands formatter
    "format_number": (lambda args: (
        f"__format_number_human(CAST({args[0]} AS DOUBLE))"
        if len(args) == 1
        else "__KEEP__(" + ", ".join(args) + ")")),
    # right(s, n<0) reads from position -n (left keeps native)
    "right": (lambda args: (
        f"CASE WHEN ({args[1]}) < 0 THEN substr({args[0]}, -({args[1]})) "
        f"ELSE right({args[0]}, {args[1]}) END"
        if len(args) == 2
        else "__KEEP__(" + ", ".join(args) + ")")),
    # decimal-exact thousands formatting with MySQL half-up rounding;
    # DOUBLE inputs expand their exact binary value (DBL_MAX prints all
    # 309 digits — math_functions/test_format_round.groovy), so the
    # kernel needs the value AND its type
    "format_round": _tpl(
        "__format_round(CAST({0} AS STRING), CAST({1} AS INT), "
        "typeof({0}))"
    ),
    # rounding family with a NON-FOLDABLE or precision-critical scale:
    # Spark requires a foldable scale and the double-backed UDFs lose
    # >15-digit decimals — route to the decimal-exact kernel
    # (math_functions/test_round.groovy); literal-scale calls over
    # ordinary types keep the native path. 1-arg truncate defaults 0.
    "round": _round_scale_macro("round"),
    "dround": _round_scale_macro("round"),
    "floor": _round_scale_macro("floor"),
    "dfloor": _round_scale_macro("floor"),
    "ceil": _round_scale_macro("ceil"),
    "ceiling": _round_scale_macro("ceil"),
    "dceil": _round_scale_macro("ceil"),
    "truncate": _round_scale_macro("truncate"),
    # Doris LEAST/GREATEST accept a single argument (identity)
    "least": (lambda args: f"({args[0]})" if len(args) == 1
              else "__KEEP__(" + ", ".join(args) + ")"),
    "greatest": (lambda args: f"({args[0]})" if len(args) == 1
                 else "__KEEP__(" + ", ".join(args) + ")"),
    # Doris null-test predicates (fe NullPred: is_null_pred /
    # is_not_null_pred are the named forms of IS [NOT] NULL —
    # query_p0/sql_functions/conditional_functions/
    # test_conditional_function.groovy)
    "is_null_pred": _tpl("(({0}) IS NULL)"),
    "is_not_null_pred": _tpl("(({0}) IS NOT NULL)"),
    # Spark's width_bucket requires DOUBLE operands; Doris accepts any
    # numeric (decimal/int) and coerces DATE/DATETIME through their
    # packed-digit form (yyyyMMddHHmmss — 2e13 lands in the overflow
    # bucket for 1e10 bounds, matching test_conditional_function)
    "width_bucket": _tpl(
        "width_bucket(CAST(CASE "
        "WHEN typeof({0}) = 'date' THEN "
        "date_format(CAST(CAST({0} AS STRING) AS TIMESTAMP), 'yyyyMMdd') "
        "WHEN typeof({0}) IN ('timestamp', 'timestamp_ntz') THEN "
        "date_format(CAST(CAST({0} AS STRING) AS TIMESTAMP), "
        "'yyyyMMddHHmmss') ELSE CAST({0} AS STRING) END AS DOUBLE), "
        "CAST({1} AS DOUBLE), CAST({2} AS DOUBLE), {3})"
    ),
    "bitmap_agg": _tpl("array_sort(collect_set(CAST({0} AS BIGINT)))"),
    "bitmap_union": _tpl("array_sort(array_distinct(flatten(collect_list({0}))))"),
    "bitmap_union_count": _tpl(
        "CAST(size(array_distinct(flatten(collect_list({0})))) AS BIGINT)"
    ),
    "bitmap_union_int": _tpl("count(DISTINCT {0})"),
    "group_bitmap_xor": _tpl(
        # element survives iff it appears in an odd number of group bitmaps
        "array_sort(filter(array_distinct(flatten(collect_list({0}))), "
        "e -> size(filter(flatten(collect_list({0})), x -> x = e)) % 2 = 1))"
    ),
    "quantile_union": _tpl("flatten(collect_list({0}))"),
    "bitmap_intersect": _tpl(
        # element survives iff it appears in EVERY group bitmap
        "array_sort(filter(array_distinct(flatten(collect_list({0}))), "
        "e -> size(filter(collect_list({0}), b -> array_contains(b, e)))"
        " = size(collect_list({0}))))"
    ),
    # Doris HLL_UNION_AGG returns the cardinality ESTIMATE (BIGINT);
    # HLL_UNION/HLL_RAW_AGG return the merged sketch itself
    "hll_union_agg": _tpl(
        "hll_cardinality(aggregate(collect_list({0}), array_repeat(0, 1024), "
        "(acc, h) -> zip_with(acc, h, (a, b) -> greatest(a, b))))"
    ),
    "hll_union": _tpl(
        "aggregate(collect_list({0}), array_repeat(0, 1024), "
        "(acc, h) -> zip_with(acc, h, (a, b) -> greatest(a, b)))"
    ),
    "hll_raw_agg": _tpl(
        "aggregate(collect_list({0}), array_repeat(0, 1024), "
        "(acc, h) -> zip_with(acc, h, (a, b) -> greatest(a, b)))"
    ),
    "datasketches_hll_union_agg": _tpl(
        "aggregate(collect_list({0}), array_repeat(0, 1024), "
        "(acc, h) -> zip_with(acc, h, (a, b) -> greatest(a, b)))"
    ),
    # STRING keys + NUL sentinel: Doris map_agg keeps NULL keys,
    # which Spark MapType bans; the comparator renders the sentinel
    # back as the unquoted null key and float-canonicalizes numerics
    "map_agg": _tpl(
        "map_from_entries(collect_list(named_struct('k', "
        "coalesce(CAST(({0}) AS STRING), concat(char(0), 'null')), "
        "'v', {1})))"
    ),
    "map_agg_v1": _tpl(
        "map_from_entries(collect_list(named_struct('k', "
        "coalesce(CAST(({0}) AS STRING), concat(char(0), 'null')), "
        "'v', {1})))"
    ),
    "map_agg_v2": _tpl(
        "map_from_entries(collect_list(named_struct('k', "
        "coalesce(CAST(({0}) AS STRING), concat(char(0), 'null')), "
        "'v', {1})))"
    ),
    "percentile_approx_weighted": _tpl(
        "percentile({0}, {2}, CAST({1} AS BIGINT))"
    ),
    "retention": _retention,
    # 3-arg timediff(a, b, scale) — internal spelling the dialect layer
    # emits when operand DATETIME(n) precisions are statically known:
    # renders the TIME at that fixed scale (trailing zeros kept, the way
    # Doris prints a time scaled to max(operand precisions)). 2-arg falls
    # through to the SQL-UDF (auto trim) registration.
    "timediff": (
        lambda args: (
            "__KEEP__(" + ", ".join(args) + ")"
            if len(args) != 3
            else (
                "CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL ELSE "
                "IF(unix_micros(CAST(({a}) AS TIMESTAMP)) < unix_micros(CAST(({b}) AS TIMESTAMP)), '-', '') || "
                "IF(abs(unix_micros(CAST(({a}) AS TIMESTAMP)) - unix_micros(CAST(({b}) AS TIMESTAMP))) div 3600000000 < 10, '0', '') || "
                "CAST(abs(unix_micros(CAST(({a}) AS TIMESTAMP)) - unix_micros(CAST(({b}) AS TIMESTAMP))) div 3600000000 AS STRING) || ':' || "
                "lpad(CAST(abs(unix_micros(CAST(({a}) AS TIMESTAMP)) - unix_micros(CAST(({b}) AS TIMESTAMP))) % 3600000000 div 60000000 AS STRING), 2, '0') || ':' || "
                "lpad(CAST(abs(unix_micros(CAST(({a}) AS TIMESTAMP)) - unix_micros(CAST(({b}) AS TIMESTAMP))) % 60000000 div 1000000 AS STRING), 2, '0') || "
                "{frac} END"
            ).format(
                a=args[0],
                b=args[1],
                frac=(
                    "''"
                    if int(args[2]) <= 0
                    else (
                        "'.' || substr(lpad(CAST(abs(unix_micros(CAST(({a}) AS TIMESTAMP)) - "
                        "unix_micros(CAST(({b}) AS TIMESTAMP))) % 1000000 AS STRING), 6, '0'), 1, {s})"
                    ).format(a=args[0], b=args[1], s=int(args[2]))
                ),
            )
        )
    ),
    # {unit}_floor/_ceil 2-arg ORIGIN form: a date-shaped second argument
    # is the origin, not the period (Doris overload resolution)
    **{
        f"{u}_{fc}": (
            lambda args, _n=f"{u}_{fc}": _floor_ceil_2arg(_n, args)
        )
        for u in ("second", "minute", "hour", "day", "week", "month",
                  "quarter", "year")
        for fc in ("floor", "ceil")
    },
    # bitmap cardinality over the array representation (Spark's builtin
    # bitmap_count reads its own BINARY bitmaps and cannot be shadowed
    # by a SQL UDF)
    "bitmap_count": _tpl(
        # NULL bitmap counts 0 (legacy sizeOfNull renders size(NULL)
        # as -1, not NULL — greatest clamps both modes)
        "coalesce(greatest(size({0}), 0), 0)"),
    # variadic bit_test(x, pos...): 1 iff EVERY listed bit is set
    # NULL in any argument propagates (CAST(boolean AS INT) keeps NULL)
    "bit_test": _bit_test_macro,
    "bit_test_all": _bit_test_macro,
    # type-preserving inline form (the SQL-UDF registration is
    # STRING-typed and would break boolean operands); NULL input is a
    # runtime error, mirrored through assert_true in a lazy CASE branch
    "non_nullable": _tpl(
        "CASE WHEN ({0}) IS NOT NULL THEN ({0}) "
        "WHEN assert_true(false, 'non_nullable got NULL') IS NULL THEN ({0}) END"
    ),
    # Doris date_add/date_sub KEEP the time part for datetime/string
    # inputs (date_add('2023-03-30 22:23:45.2345', 8) is a DATETIME) and
    # return DATE for date inputs (DateAdd.java computeSignature). The
    # 2-arg form expands to the TYPED TIMESTAMP shape below — so
    # compositions (`date_add(d,1) + INTERVAL 1 DAY`, nested datediff)
    # keep real datetime typing — and the analyzer rule DorisTypes
    # (doris_spark/jvm) narrows sites whose input is DATE back to
    # Spark's date_add/date_sub (DATE-typed). _date_arith's docstring
    # names the template that rule matches.
    # INTERVAL forms and 3-arg spellings pass through untouched.
    "date_add": (lambda args: _date_arith(args, "+")),
    "date_sub": (lambda args: _date_arith(args, "-")),
    # Doris bit_count counts 1-bits at the ARGUMENT's type width
    # (bit_count(tinyint -1) = 8); Spark's is fixed 64-bit. Mask to the
    # source width; scale-0 decimals (out-of-bigint-range literals that
    # still fit) go through an exact BIGINT cast.
    "bit_count": (
        lambda args: _bit_count(args)
    ),
    # 1-arg round_bankers defaults the scale to 0 (the SQL-UDF
    # registration is fixed 2-arg)
    "round_bankers": (
        lambda args: "__KEEP__(" + ", ".join(args + ["0"] if len(args) == 1 else args) + ")"
    ),
    # Doris prints full month/day names in the lc_time_names locale;
    # Spark 4's builtins abbreviate and cannot be shadowed by SQL UDFs.
    # Non-English locales resolve through the frozen CLDR table (pyfns).
    "monthname": _locale_name("months"),
    "dayname": _locale_name("days"),
    "group_array_union": _tpl("array_distinct(flatten(collect_list({0})))"),
    # MySQL-compat scalar semantics (mysql_compatibility.md divergences):
    # LENGTH is byte length (char_length stays characters); variadic
    # array_concat; type-preserving pop/cum ops; locate with empty needle
    # returns the start position; lpad/rpad edge semantics
    "length": _tpl("octet_length({0})"),
    "array_popback": _tpl("slice({0}, 1, greatest(size({0}) - 1, 0))"),
    "array_popfront": _tpl("CASE WHEN size({0}) <= 1 THEN slice({0}, 1, 0) ELSE slice({0}, 2, size({0}) - 1) END"),
    # Doris array_cum_sum: nulls (and non-numeric strings) don't reset the
    # running sum — each position emits the sum of the numeric prefix, or
    # NULL while the prefix is all-null. NULL array -> NULL, [] -> [].
    "array_cum_sum": _tpl(
        "CASE WHEN ({0}) IS NULL THEN NULL WHEN size({0}) = 0 THEN array() ELSE "
        "transform(sequence(1, size({0})), i -> "
        "CASE WHEN size(filter(slice({0}, 1, i), x -> try_cast(x AS DOUBLE) IS NOT NULL)) = 0 THEN NULL "
        "ELSE aggregate(filter(slice({0}, 1, i), x -> try_cast(x AS DOUBLE) IS NOT NULL), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + try_cast(x AS DOUBLE)) END) END"
    ),
    # Doris renders boolean array elements as 1/0 in array_join (string
    # surface); typeof() is a per-column constant and every branch is a
    # string op, so the CASE analyzes for any element type. DATETIMEV2(n)
    # elements render with exactly n fractional digits — Spark timestamps
    # carry no scale, so the declared Doris type comes from the DDL-time
    # column hint registry (plans/type_hints.py; pinned by Array.groovy's
    # array_join kadtmv2 cases expecting '... 01:00:01.000000').
    "array_join": _array_join_macro,
    # Doris size/cardinality/array_size return NULL for a NULL array;
    # Spark's legacy sizeOfNull (ansi off) returns -1
    "size": _tpl("IF(({0}) IS NULL, NULL, size({0}))"),
    "cardinality": _tpl("IF(({0}) IS NULL, NULL, size({0}))"),
    "array_size": _tpl("IF(({0}) IS NULL, NULL, size({0}))"),
    # ---- lambda-first scalar spellings -> Spark hofs
    "array_map": _lambda_first("transform"),
    "array_filter": _lambda_first("filter"),
    "array_match_all": _lambda_first("forall"),
    "array_match_any": _lambda_first("exists"),
}


def _bool01(expr: str) -> str:
    return f"IF(coalesce(CAST(({expr}) AS BOOLEAN), false), 1, 0)"


def _array_exists(args: Sequence[str]) -> str:
    """Doris array_exists is ELEMENTWISE: it returns array<tinyint> of 0/1
    per element (docs suite doc_array_functions; ClickHouse-lineage form),
    in three spellings: (lambda, arr), ((x,y) -> .., arr1, arr2), (arr)."""
    if args and "->" in args[0]:
        params, _, body = args[0].partition("->")
        params = params.strip()
        body = body.strip()
        if len(args) >= 3:
            return f"zip_with({args[1]}, {args[2]}, {params} -> {_bool01(body)})"
        return f"transform({args[1]}, {params} -> {_bool01(body)})"
    if len(args) == 1:
        return f"transform({args[0]}, __x -> {_bool01('__x')})"
    return f"__KEEP__({', '.join(args)})"


def _array_split(args: Sequence[str]) -> str:
    """Doris/ClickHouse array_split: cut the array into consecutive groups,
    starting a new group at every element whose mark is true (the first
    element always opens a group). Forms: (arr, flag_arr), (lambda, arr),
    ((x,y) -> .., arr, arr2)."""
    if args and "->" in args[0]:
        params, _, body = args[0].partition("->")
        params, body = params.strip(), body.strip()
        arr = args[1]
        if len(args) >= 3:
            marks = f"zip_with({args[1]}, {args[2]}, {params} -> {_bool01(body)})"
        else:
            marks = f"transform({args[1]}, {params} -> {_bool01(body)})"
    else:
        arr = args[0]
        marks = f"transform({args[1]}, __f -> {_bool01('__f')})"
    starts = (
        f"filter(sequence(1, size({arr})), "
        f"__i -> __i = 1 OR try_element_at({marks}, __i) = 1)"
    )
    return (
        f"CASE WHEN ({arr}) IS NULL THEN NULL WHEN size({arr}) = 0 THEN array() ELSE "
        f"transform({starts}, (__s, __g) -> slice({arr}, __s, "
        f"coalesce(try_element_at({starts}, __g + 2), size({arr}) + 1) - __s)) END"
    )


MACROS["array_exists"] = _array_exists
MACROS["array_split"] = _array_split


def _array_count(args: Sequence[str]) -> str:
    # NULL array counts 0 (size() yields -1/NULL on NULL input)
    if len(args) >= 2 and "->" in args[0]:
        return f"greatest(coalesce(size(filter({args[1]}, {args[0]})), 0), 0)"
    return f"__KEEP__({', '.join(args)})"


def _array_compact(args: Sequence[str]) -> str:
    """Doris array_compact removes CONSECUTIVE duplicates (null-safe) and
    KEEPS nulls — Spark's builtin of the same name strips nulls instead."""
    a = args[0]
    return (
        f"CASE WHEN ({a}) IS NULL THEN NULL WHEN size({a}) = 0 THEN ({a}) ELSE "
        f"transform(filter(sequence(1, size({a})), "
        f"__i -> __i = 1 OR NOT (try_element_at({a}, __i) <=> try_element_at({a}, __i - 1))), "
        f"__i -> try_element_at({a}, __i)) END"
    )


def _array_contains(args: Sequence[str]) -> str:
    # array_contains(NULL, x) -> NULL (Doris NULL-array semantics)
    if len(args) == 2 and args[0].strip().upper() == "NULL":
        return "CAST(NULL AS BOOLEAN)"
    # array_contains(arr, NULL): does the array hold a null element
    # (Spark rejects the untyped NULL literal outright)
    if len(args) == 2 and args[1].strip().upper() == "NULL":
        return (
            f"coalesce(array_max(transform({args[0]}, __x -> __x IS NULL)), "
            f"IF(({args[0]}) IS NULL, CAST(NULL AS BOOLEAN), false))"
        )
    return f"__KEEP__({', '.join(args)})"


def _array_first(args: Sequence[str]) -> str:
    if len(args) >= 2 and "->" in args[0]:
        return f"element_at(filter({args[1]}, {args[0]}), 1)"
    return f"__KEEP__({', '.join(args)})"


def _array_last(args: Sequence[str]) -> str:
    if len(args) >= 2 and "->" in args[0]:
        return f"element_at(filter({args[1]}, {args[0]}), -1)"
    return f"__KEEP__({', '.join(args)})"


def _array_first_index(args: Sequence[str]) -> str:
    if len(args) >= 2 and "->" in args[0]:
        return f"coalesce(array_position(transform({args[1]}, {args[0]}), true), 0)"
    return f"__KEEP__({', '.join(args)})"


def _array_last_index(args: Sequence[str]) -> str:
    # array_position returns 0 (not NULL) when the value is absent
    if len(args) >= 2 and "->" in args[0]:
        inner = f"array_position(transform(reverse({args[1]}), {args[0]}), true)"
        return (
            f"CASE WHEN coalesce({inner}, 0) = 0 THEN 0 "
            f"ELSE size({args[1]}) - CAST({inner} AS INT) + 1 END"
        )
    return f"__KEEP__({', '.join(args)})"


def _array_sortby(args: Sequence[str]) -> str:
    if len(args) >= 2 and "->" in args[0]:
        # sort arr by key(x): decorate-sort-undecorate
        lam = args[0]
        var = lam.split("->")[0].strip().strip("()")
        body = lam.split("->", 1)[1].strip()
        return (
            f"transform(array_sort(transform({args[1]}, {var} -> "
            f"named_struct('k', {body}, 'v', {var}))), s -> s.v)"
        )
    if len(args) == 2:
        # (arr, key_arr) form as a macro: type-preserving (the registered
        # SQL UDF's STRING params stringify the elements)
        return (
            f"transform(array_sort(zip_with({args[1]}, {args[0]}, "
            f"(__k, __v) -> named_struct('k', __k, 'v', __v))), __s -> __s.v)"
        )
    return f"__KEEP__({', '.join(args)})"


def _array_sort_macro(args: Sequence[str]) -> str:
    """Doris array_sort: ascending with NULLs FIRST (sort_array default);
    the lambda-first spelling sorts by a key function."""
    if len(args) >= 2 and "->" in args[0]:
        lam = args[0]
        var = lam.split("->")[0].strip().strip("()")
        body = lam.split("->", 1)[1].strip()
        if "," in var:
            # two-variable COMPARATOR lambda (Array2.groovy): Spark's
            # array_sort takes it natively, array second -> first
            return f"array_sort({args[1]}, {lam})"
        return (
            f"transform(array_sort(transform({args[1]}, {var} -> "
            f"named_struct('k', {body}, 'v', {var}))), __s -> __s.v)"
        )
    if len(args) == 1:
        return f"sort_array({args[0]})"
    return f"__KEEP__({', '.join(args)})"


def _interval_expr(step: str) -> str | None:
    """`INTERVAL <expr> <unit>` (or an already-rewritten
    make_*_interval call) -> a sequence-usable interval expression."""
    if re.match(r"\s*make_(dt|ym)_interval\s*\(", step, re.I):
        return step
    m = re.match(r"\s*INTERVAL\s+(.+?)\s+(\w+)\s*$", step, re.I | re.S)
    if m is None:
        return None
    from doris_spark.plans.dialect import make_interval_expr

    cnt, unit = m.group(1), m.group(2)
    if re.match(r"^\s*[+-]?\d+\s*$", cnt):
        return f"INTERVAL {cnt} {unit}"
    return make_interval_expr(cnt, unit)


def _array_range(args: Sequence[str]) -> str:
    """Doris array_range/sequence: [0, end) / [start, end) / [start,
    end) by step — end-EXCLUSIVE, empty when start >= end (Spark's
    sequence is inclusive and descends when start > end). Datetime form
    takes an INTERVAL step (default 1 DAY, possibly with a non-literal
    count); datetime endpoints are detected from the rewritten arg text
    (timestamp casts / interval arithmetic from the dialect layer)."""
    if len(args) == 1:
        s, e, st = "0", args[0], "1"
    elif len(args) == 2:
        s, e, st = args[0], args[1], "1"
    else:
        s, e, st = args[0], args[1], args[2]
    ivl = _interval_expr(st)
    # \b anchors: a bare TIMESTAMP/INTERVAL token flags datetime mode,
    # but unix_timestamp(...) / a *_timestamp column must NOT (the '_'
    # is a word char, so \bTIMESTAMP misses those).
    dt_mode = ivl is not None or re.search(
        r"\bTIMESTAMP\b|\bmake_dt_interval\b|\bmake_ym_interval\b|\bINTERVAL\b",
        s + " " + e,
        re.I,
    )
    if dt_mode:
        ivl = ivl or "INTERVAL 1 DAY"
        ts, te = f"CAST({s} AS TIMESTAMP)", f"CAST({e} AS TIMESTAMP)"
        # zero/negative step -> NULL (BE sequence contract); the zero
        # literal for the comparison must match the interval's type class
        lit = re.match(r"\s*INTERVAL\s+([+-]?\d+)\s+\w+\s*$", ivl, re.I)
        if lit is not None:
            # literal step: decide at macro-expansion time (Spark's
            # sequence() would otherwise throw instead of returning NULL)
            zero = "true" if int(lit.group(1)) <= 0 else "false"
        elif re.match(r"\s*make_ym_interval", ivl, re.I):
            zero = f"({ivl}) <= INTERVAL '0' MONTH"
        elif re.match(r"\s*make_dt_interval", ivl, re.I):
            zero = f"({ivl}) <= INTERVAL '0' SECOND"
        else:
            zero = "false"
        return (
            f"CASE WHEN {zero} THEN NULL WHEN {ts} >= {te} THEN array() "
            f"ELSE filter(sequence({ts}, {te}, {ivl}), __x -> __x < {te}) END"
        )
    return (
        f"CASE WHEN CAST({st} AS BIGINT) <= 0 THEN NULL "
        f"WHEN ({s}) >= ({e}) THEN array() "
        f"ELSE filter(sequence(CAST({s} AS BIGINT), CAST({e} AS BIGINT), "
        f"CAST({st} AS BIGINT)), __x -> __x < CAST({e} AS BIGINT)) END"
    )


def _topn_entries(x: str, neg_count: str) -> str:
    """Sorted (count desc, value asc) struct entries over a group."""
    return (
        f"array_sort(transform(array_distinct(collect_list({x})), "
        f"v -> named_struct('c', {neg_count}, 'v', v)))"
    )


def _topn(args: Sequence[str]) -> str:
    """Doris topn(x, k) -> JSON {value: count} of the k most frequent
    values (aggregate_function_topn.h). Pure expression: count-per-value
    via filter over the collected group, sort by (count desc, value)."""
    x, k = args[0], args[1]
    entries = _topn_entries(x, f"-size(filter(collect_list({x}), e -> e <=> v))")
    return (
        f"(CASE WHEN count({x}) = 0 THEN CAST(NULL AS STRING) ELSE "
        f"to_json(map_from_entries(transform(slice({entries}, 1, {k}), "
        f"s -> struct(s.v, -s.c)))) END)"
    )


def _topn_array(args: Sequence[str]) -> str:
    x, k = args[0], args[1]
    entries = _topn_entries(x, f"-size(filter(collect_list({x}), e -> e <=> v))")
    return (f"(CASE WHEN count({x}) = 0 THEN NULL ELSE "
            f"transform(slice({entries}, 1, {k}), s -> s.v) END)")


def _topn_weighted(args: Sequence[str]) -> str:
    # collect pairs as structs (separate collect_lists misalign when one
    # side has NULLs) and drop NULL values/weights, as the reference does
    x, w, k = args[0], args[1], args[2]
    pairs = (
        f"filter(collect_list(named_struct('k', {x}, 'w', {w})), "
        f"p -> p.k IS NOT NULL AND p.w IS NOT NULL)"
    )
    entries = (
        f"array_sort(transform(array_distinct(transform({pairs}, p -> p.k)), "
        f"v -> named_struct('c', -aggregate(filter({pairs}, p -> p.k <=> v), "
        f"CAST(0 AS DOUBLE), (acc, p) -> acc + p.w), 'v', v)))"
    )
    return (f"(CASE WHEN count({x}) = 0 THEN NULL ELSE "
            f"transform(slice({entries}, 1, {k}), s -> s.v) END)")


def _map_merge(agg_body: str) -> Macro:
    """ClickHouse-lineage *Map aggregates: (keys_arr, values_arr) pairs
    merged across the group, one output entry per distinct key."""

    def m(args: Sequence[str]) -> str:
        if len(args) == 1:
            # Doris map_agg_by_key spelling: one MAP argument
            # (agg_function/map_agg_by_key.groovy)
            pairs = (
                f"flatten(collect_list(transform(map_entries({args[0]}),"
                f" __e -> named_struct('k', __e.key, 'v', __e.value))))"
            )
        elif len(args) == 2:
            ks, vs = args[0], args[1]
            pairs = (
                f"flatten(collect_list(zip_with({ks}, {vs}, "
                f"(a, b) -> named_struct('k', a, 'v', b))))"
            )
        else:
            return "__KEEP__(" + ", ".join(args) + ")"
        keys = f"array_sort(array_distinct(transform({pairs}, p -> p.k)))"
        body = agg_body.replace("{PAIRS}", pairs)
        return f"map_from_entries(transform({keys}, k -> struct(k, {body})))"

    return m


def _struct_element(args: Sequence[str]) -> str:
    """struct_element(s, 'name') -> s.name; struct_element(s, k) with a
    positional literal -> s.colk is schema-dependent — fall through to the
    native dot/bracket syntax."""
    if len(args) == 2:
        a1 = args[1].strip()
        if len(a1) >= 2 and a1[0] == a1[-1] == "'":
            return f"({args[0]}).{a1[1:-1]}"
    return f"__KEEP__({', '.join(args)})"



def _locate(args: Sequence[str]) -> str:
    # Doris empty-needle bound is length(str) (not MySQL's length+1),
    # except the ('','',1) identity
    if len(args) == 3:
        return (
            f"CASE WHEN {args[0]} = '' THEN "
            f"IF({args[2]} <= length({args[1]}), {args[2]}, "
            f"IF({args[1]} = '' AND {args[2]} = 1, 1, 0)) "
            f"ELSE locate({args[0]}, {args[1]}, {args[2]}) END"
        )
    return f"__KEEP__({', '.join(args)})"


def _pad(which: str) -> Macro:
    def m(args: Sequence[str]) -> str:
        if len(args) != 3:
            return f"__KEEP__({', '.join(args)})"
        s, ln, p = args
        return (
            f"CASE WHEN {ln} < 0 THEN NULL "
            f"WHEN {p} = '' THEN IF({ln} > length({s}), '', left({s}, {ln})) "
            f"ELSE {which}({s}, {ln}, {p}) END"
        )

    return m


def _parse_url(args: Sequence[str]) -> str:
    """Doris parse_url: part names are CASE-INSENSITIVE and include
    PORT (fe url_parser; nereids_function_p0/scalar_function/P.groovy);
    Spark's builtin wants uppercase and has no PORT."""
    if len(args) < 2 or len(args) > 3:
        return "__KEEP__(" + ", ".join(args) + ")"
    u, part = args[0], args[1].strip()
    lit = re.fullmatch(r"'([^']*)'", part)
    port = ("nullif(regexp_extract(coalesce(parse_url({u}, 'AUTHORITY')"
            ", ''), ':([0-9]+)$', 1), '')").format(u=u)
    if lit:
        up = lit.group(1).upper()
        if up == "PORT":
            return port
        tail = f", {args[2]}" if len(args) == 3 else ""
        return f"parse_url({u}, '{up}'{tail})"
    tail = f", {args[2]}" if len(args) == 3 else ""
    return (f"CASE WHEN upper({part}) = 'PORT' THEN {port} "
            f"ELSE parse_url({u}, upper({part}){tail}) END")


MACROS["parse_url"] = _parse_url
MACROS["ipv4_cidr_to_range"] = lambda a: (
    # 2-arg (addr, prefix) reference spelling -> the 1-arg cidr kernel;
    # NULL address/prefix -> NULL struct (the concat would otherwise
    # feed '' and render empty mins)
    f"IF({a[0]} IS NULL OR {a[1]} IS NULL, NULL, "
    f"ipv4_cidr_to_range(concat({a[0]}, '/', CAST({a[1]} AS INT))))"
    if len(a) == 2 else "__KEEP__(" + ", ".join(a) + ")")
MACROS["ipv6_cidr_to_range"] = lambda a: (
    f"IF({a[0]} IS NULL OR {a[1]} IS NULL, NULL, "
    f"ipv6_cidr_to_range(concat({a[0]}, '/', CAST({a[1]} AS INT))))"
    if len(a) == 2 else "__KEEP__(" + ", ".join(a) + ")")

MACROS["locate"] = _locate
MACROS["lpad"] = _pad("lpad")
MACROS["rpad"] = _pad("rpad")

MACROS["struct_element"] = _struct_element
MACROS["topn"] = _topn
MACROS["topn_array"] = _topn_array
MACROS["topn_weighted"] = _topn_weighted


# --- regexp_replace family -------------------------------------------------
# Doris regexes are RE2: script properties spell \p{Han}; Java wants
# \p{IsHan}. The optional 4th arg 'IGNORE_INVALID_ESCAPE'
# (be/src/exprs/function/function_regexp.cpp) makes invalid replacement
# escapes literal (\} -> }) instead of erroring — Spark validates
# replacement escapes strictly, so the replacement is sanitized with a
# runtime regexp_replace (works for column-valued replacements too).
_RE2_SCRIPTS = (
    "Han|Latin|Greek|Cyrillic|Arabic|Hebrew|Hiragana|Katakana|Hangul|"
    "Thai|Devanagari|Armenian|Georgian|Bengali|Tamil|Gujarati|Khmer|"
    "Lao|Myanmar|Sinhala|Tibetan|Mongolian|Ethiopic"
)
_P_SCRIPT = re.compile(r"\\p\{(" + _RE2_SCRIPTS + r")\}")
# strip one backslash before anything that is not \ or $ (the only
# replacement escapes Spark accepts)
_SANITIZE_REPL = r"'\\\\([^\\\\$])', '$1'"


def _ignore_invalid_escape(a) -> bool:
    return re.fullmatch(
        r"\s*['\"]IGNORE_INVALID_ESCAPE['\"]\s*", a, re.I) is not None


_SPARK_LIT_ESC = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
                  "0": "\0", "\\": "\\", "'": "'", '"': '"'}
_QUANT = re.compile(r"\{\d+(,\d*)?\}")


def _java_safe_regex_literal(arg: str) -> str:
    """RE2 (Doris) treats a bare '{' that doesn't open a quantifier as a
    literal; Java's Pattern rejects it. For a simple quoted literal
    pattern arg, unescape it the way Spark's parser will, escape the
    offending braces, and re-emit. Non-literal args pass through."""
    m = re.fullmatch(r"\s*'((?:[^'\\]|\\.)*)'\s*", arg, re.S)
    if m is None:
        return arg
    raw = m.group(1)
    # the pattern string Spark's literal parser would produce
    s, i, out = raw, 0, []
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append(_SPARK_LIT_ESC.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(s[i])
            i += 1
    pat = "".join(out)
    fixed, i = [], 0
    while i < len(pat):
        c = pat[i]
        if c == "\\" and i + 1 < len(pat):
            fixed.append(pat[i: i + 2])
            i += 2
            # \p{...} / \P{...} property groups keep their braces
            if pat[i - 1] in "pP" and i < len(pat) and pat[i] == "{":
                j = pat.find("}", i)
                if j >= 0:
                    fixed.append(pat[i: j + 1])
                    i = j + 1
            continue
        if c == "{" and not _QUANT.match(pat, i):
            fixed.append("\\{")
            i += 1
            continue
        fixed.append(c)
        i += 1
    safe = "".join(fixed)
    if safe == pat:
        return arg
    lit = safe.replace("\\", "\\\\").replace("'", "\\'")
    return f"'{lit}'"


def _regexp_replace_m(args):
    a = list(args)
    if len(a) >= 2:
        a[1] = _java_safe_regex_literal(_P_SCRIPT.sub(r"\\p{Is\1}", a[1]))
    if len(a) == 4 and _ignore_invalid_escape(a[3]):
        repl = f"regexp_replace({a[2]}, {_SANITIZE_REPL})"
        return f"__KEEP__({a[0]}, {a[1]}, {repl})"
    return "__KEEP__(" + ", ".join(a) + ")"


def _regexp_replace_one_m(args):
    a = list(args)
    if len(a) >= 2:
        a[1] = _java_safe_regex_literal(_P_SCRIPT.sub(r"\\p{Is\1}", a[1]))
    if len(a) == 4 and _ignore_invalid_escape(a[3]):
        repl = f"regexp_replace({a[2]}, {_SANITIZE_REPL})"
        return f"__KEEP__({a[0]}, {a[1]}, {repl})"
    return "__KEEP__(" + ", ".join(a) + ")"


MACROS["regexp_replace"] = _regexp_replace_m
MACROS["regexp_replace_one"] = _regexp_replace_one_m


def _unit_add_interval(sign: str):
    """Doris's <unit>_add/<unit>_sub also accept an INTERVAL literal as
    the count (DAYS_SUB(x, INTERVAL 2 YEAR) applies the INTERVAL, not 2
    days — nereids_syntax_p0/test_date_sub.groovy). Non-INTERVAL counts
    keep the registered fixed-unit SQL function."""

    def m(args):
        if len(args) == 2 and re.match(r"\s*INTERVAL\b", args[1], re.I):
            return (f"(CAST({args[0]} AS TIMESTAMP) {sign} "
                    f"({args[1].strip()}))")
        return "__KEEP__(" + ", ".join(args) + ")"

    return m


for _u in ("years", "months", "weeks", "days",
           "hours", "minutes", "seconds"):
    MACROS[f"{_u}_add"] = _unit_add_interval("+")
    MACROS[f"{_u}_sub"] = _unit_add_interval("-")


def _interval_fn_m(args):
    """MySQL/Doris INTERVAL(N, N1, ...): the BE runs a BINARY SEARCH
    over the thresholds as int64 (function_interval.cpp:106-117 — l=1,
    r=argc, arr[mid] <= N ? l=mid+1 : r=mid, answer l-1), with NULL
    thresholds reading as their underlying 0 (remove_nullable) and a
    NULL N answering -1. The search tree is unrolled exactly, so
    unsorted threshold lists reproduce the BE's answers, not a count.
    The 0/1-arg spellings are the INTERVAL literal and stay untouched."""
    if len(args) < 2:
        return "__KEEP__(" + ", ".join(args) + ")"
    n = f"CAST({args[0].strip()} AS BIGINT)"
    ths = ["", *[f"coalesce(CAST({a.strip()} AS BIGINT), 0)"
                 for a in args[1:]]]

    def tree(lo: int, hi: int) -> str:
        if lo >= hi:
            return str(lo - 1)
        mid = (lo + hi) >> 1
        return (f"(CASE WHEN {ths[mid]} <= {n} "
                f"THEN {tree(mid + 1, hi)} ELSE {tree(lo, mid)} END)")

    return (f"CASE WHEN ({args[0].strip()}) IS NULL THEN -1 "
            f"ELSE {tree(1, len(args))} END")


MACROS["interval"] = _interval_fn_m


def _random_m(args):
    """Doris 2-arg random(lo, hi): uniform BIGINT in [lo, hi]
    (function_random.cpp). 0/1-arg forms keep Spark's builtin."""
    if len(args) == 2:
        a, b = args[0].strip(), args[1].strip()
        return (f"CAST(floor(rand() * (({b}) - ({a}) + 1)) + ({a}) "
                f"AS BIGINT)")
    return "__KEEP__(" + ", ".join(args) + ")"


MACROS["random"] = _random_m


_DT_LIT = re.compile(
    r"^\s*'(\d{4})-(\d{1,2})-(\d{1,2})"
    r"(?:[ T](\d{1,2}):(\d{1,2})(?::(\d{1,2}))?(\.\d+)?)?\s*'\s*$")


def _pad_dt_literal(arg: str) -> str:
    """Zero-pad a non-padded date/datetime string literal ('2025-2-1
    23:59:59' -> '2025-02-01 23:59:59') — Doris's datetime parser is
    lenient where Spark's string->TIMESTAMP cast is not (pinned by
    nereids_syntax_p0/test_time_lut_nereids.groovy)."""
    m = _DT_LIT.match(arg)
    if m is None:
        return arg
    y, mo, d, h, mi, s, frac = m.groups()
    out = f"{y}-{int(mo):02d}-{int(d):02d}"
    if h is not None:
        out += f" {int(h):02d}:{int(mi):02d}:{int(s or 0):02d}"
        if frac:
            out += frac
    return f"'{out}'"


def _pad_first_arg(args):
    if args:
        padded = _pad_dt_literal(args[0])
        if padded != args[0]:
            return "__KEEP__(" + ", ".join([padded] + list(args[1:])) + ")"
    return "__KEEP__(" + ", ".join(args) + ")"


for _fn in ("week", "weekofyear", "yearweek", "dayofweek", "dayofyear",
            "dayname", "monthname", "quarter"):
    if _fn not in MACROS:
        MACROS[_fn] = _pad_first_arg


# --- AGG_STATE combinators for value-position aggregates -----------------
# (functions/combinators.py covers sum/count/min/max/avg as DataFrame
# expressions; these SQL spellings cover the agg_state<max_by(...)> /
# agg_state<group_concat(...)> generic-column pattern pinned by
# nereids_syntax_p0/any_value.groovy sql_any21-24.)
MACROS["max_by_state"] = (
    lambda a: f"named_struct('v', {a[0]}, 'k', {a[1]})"
    if len(a) == 2 else "__KEEP__(" + ", ".join(a) + ")")
MACROS["min_by_state"] = MACROS["max_by_state"]
MACROS["max_by_union"] = (
    lambda a: f"max_by({a[0]}, ({a[0]})['k'])" if len(a) == 1
    else "__KEEP__(" + ", ".join(a) + ")")
MACROS["min_by_union"] = (
    lambda a: f"min_by({a[0]}, ({a[0]})['k'])" if len(a) == 1
    else "__KEEP__(" + ", ".join(a) + ")")
MACROS["max_by_merge"] = (
    lambda a: f"max_by(({a[0]})['v'], ({a[0]})['k'])" if len(a) == 1
    else "__KEEP__(" + ", ".join(a) + ")")
MACROS["min_by_merge"] = (
    lambda a: f"min_by(({a[0]})['v'], ({a[0]})['k'])" if len(a) == 1
    else "__KEEP__(" + ", ".join(a) + ")")
MACROS["avg_state"] = (
    lambda a: (f"named_struct('s', CAST(coalesce({a[0]}, 0) AS DOUBLE), "
               f"'n', CAST(IF(({a[0]}) IS NULL, 0, 1) AS BIGINT))")
    if len(a) == 1 else "__KEEP__(" + ", ".join(a) + ")")
MACROS["avg_union"] = (
    lambda a: (f"named_struct('s', sum(({a[0]}).s), "
               f"'n', sum(({a[0]}).n))")
    if len(a) == 1 else "__KEEP__(" + ", ".join(a) + ")")
MACROS["avg_merge"] = (
    lambda a: f"(sum(({a[0]}).s) / nullif(sum(({a[0]}).n), 0))"
    if len(a) == 1 else "__KEEP__(" + ", ".join(a) + ")")
MACROS["group_concat_state"] = (
    lambda a: f"array({a[0]})" if len(a) == 1
    else "__KEEP__(" + ", ".join(a) + ")")
MACROS["group_concat_union"] = (
    lambda a: f"flatten(collect_list({a[0]}))" if len(a) == 1
    else "__KEEP__(" + ", ".join(a) + ")")
MACROS["group_concat_merge"] = (
    lambda a: f"array_join(flatten(collect_list({a[0]})), ',')"
    if len(a) == 1 else "__KEEP__(" + ", ".join(a) + ")")
MACROS["sum_map"] = _map_merge(
    "aggregate(filter({PAIRS}, p -> p.k <=> k), CAST(0 AS DOUBLE), (acc, p) -> acc + p.v)"
)
MACROS["min_map"] = _map_merge(
    "array_min(transform(filter({PAIRS}, p -> p.k <=> k), p -> p.v))"
)
MACROS["max_map"] = _map_merge(
    "array_max(transform(filter({PAIRS}, p -> p.k <=> k), p -> p.v))"
)
MACROS["avg_map"] = _map_merge(
    "aggregate(filter({PAIRS}, p -> p.k <=> k), CAST(0 AS DOUBLE), (acc, p) -> acc + p.v) "
    "/ size(filter({PAIRS}, p -> p.k <=> k))"
)
MACROS["count_map"] = _map_merge("CAST(size(filter({PAIRS}, p -> p.k <=> k)) AS BIGINT)")
MACROS["array_count"] = _array_count


def _timestamp2(args: Sequence[str]) -> str:
    """MySQL 2-arg TIMESTAMP(expr, time): add a TIME value (may exceed
    24h, may be negative) to a datetime (reference add_time,
    function_date_or_datetime_computation). 1-arg form stays native."""
    if len(args) != 2:
        return "__KEEP__(" + ", ".join(args) + ")"
    # time-only strings ('12:13:14') cast to a timestamp-of-today in
    # Spark but are NULL datetimes in Doris — require a parseable DATE
    return (
        f"CASE WHEN CAST({args[0]} AS DATE) IS NULL THEN NULL "
        f"ELSE __add_time(CAST({args[0]} AS TIMESTAMP), {args[1]}) END"
    )


MACROS["timestamp"] = _timestamp2


def _months_between_macro(args: Sequence[str]) -> str:
    """Doris months_between works on the DATE portion only (full months
    + remainder-days/31; time-of-day ignored), vs Spark's day+time
    fraction."""
    a, b = args[0], args[1]
    tail = f", {args[2]}" if len(args) > 2 else ""
    return f"months_between(CAST({a} AS DATE), CAST({b} AS DATE){tail})"


MACROS["months_between"] = _months_between_macro


def _next_day_macro(args: Sequence[str]) -> str:
    """Doris clamps next_day past the calendar ceiling to 9999-12-31
    (Spark's raw result overflows Python datetime on collect)."""
    nd = f"next_day(CAST({args[0]} AS DATE), {args[1]})"
    return f"CASE WHEN {nd} > DATE '9999-12-31' THEN DATE '9999-12-31' ELSE {nd} END"


MACROS["next_day"] = _next_day_macro


def _date_format_macro(args: Sequence[str]) -> str:
    """date_format with a NON-literal format expression routes to the
    MySQL strftime kernel (the dialect layer already rewrote literal
    %-formats; a runtime-built format string — e.g. repeat('%l', 51) —
    must also get MySQL token semantics, which Spark's Java-pattern
    date_format rejects)."""
    if len(args) != 2 or args[1].lstrip().startswith(("'", '"')):
        return "__KEEP__(" + ", ".join(args) + ")"
    return (
        "ltrim(__mysql_strftime(CAST(CAST("
        f"{args[0]} AS TIMESTAMP) AS STRING), {args[1]}))"
    )


MACROS["date_format"] = _date_format_macro
# type-preserving macro form (the registered SQL UDF's STRING parameter
# would stringify map/struct/array elements)
MACROS["array_with_constant"] = _tpl("array_repeat({1}, CAST({0} AS INT))")


def _null_absorbing(spark_name: str) -> Macro:
    """Doris array set-ops with a NULL literal operand return NULL; Spark
    rejects the untyped NULL outright. The IF(false, ...) keeps the
    non-null operand's type."""

    def m(args: Sequence[str]) -> str:
        live = [a for a in args if a.strip().upper() != "NULL"]
        if len(live) != len(args):
            if not live:
                return "NULL"
            # result type == operand type for these ops, so the first
            # live operand alone carries the typing
            return f"IF(false, {live[0]}, NULL)"
        if len(args) <= 2 or spark_name == "concat":
            # concat is natively variadic; the set ops take exactly 2
            return f"{spark_name}({', '.join(args)})"
        # Doris array_union/array_intersect are variadic — fold
        out = args[0]
        for x in args[1:]:
            out = f"{spark_name}({out}, {x})"
        return out

    return m


MACROS["array_concat"] = _null_absorbing("concat")
MACROS["array_except"] = _null_absorbing("array_except")
MACROS["array_intersect"] = _null_absorbing("array_intersect")
MACROS["array_union"] = _null_absorbing("array_union")
MACROS["array_sort"] = _array_sort_macro
MACROS["array_range"] = _array_range
# Doris sequence() is array_range's alias (same end-exclusive contract)
MACROS["sequence"] = _array_range


def _array_slice_macro(args: Sequence[str]) -> str:
    """Doris array_slice(arr, off[, len]): 1-based offset, 0 offset or
    offset before -size or negative len -> empty; 2-arg slices to the
    end (same contract as the arr[l:r] dialect rewrite)."""
    if len(args) not in (2, 3):
        return f"__KEEP__({', '.join(args)})"
    a, o = args[0], args[1]
    ln = args[2] if len(args) == 3 else f"size({a})"
    neg_len = f" OR ({ln}) < 0" if len(args) == 3 else ""
    return (
        f"CASE WHEN ({o}) = 0 OR ({o}) < -size({a}){neg_len} "
        f"THEN slice({a}, 1, 0) "
        f"ELSE slice({a}, {o}, {ln}) END"
    )


MACROS["array_slice"] = _array_slice_macro


def _array_flatten_macro(args: Sequence[str]) -> str:
    """Doris array_flatten deep-flattens to the SCALAR element level,
    skipping NULL sub-arrays at each level (BE array_flatten; the fn
    suite feeds literals nested up to 6 deep). Depth is read from the
    literal's bracket nesting; non-literal args get the schema-unknown
    default of one level."""
    if len(args) != 1:
        return f"__KEEP__({', '.join(args)})"
    a = args[0].strip()
    literal = a.startswith("[") or re.match(r"array\s*\(", a, re.I)
    depth = None
    if literal:
        # max nesting of [..] brackets / array(..) constructor calls
        # (the dialect layer may already have converted brackets)
        mx = d = 0
        stack: list[bool] = []
        lits = lit_spans(a)
        for bm in re.finditer(r"[\[\]()]", a):
            i, ch = bm.start(), bm.group()
            if in_spans(lits, i):
                continue
            if ch == "[":
                d += 1
                mx = max(mx, d)
            elif ch == "]":
                d -= 1
            elif ch == "(":
                # word-boundary lookbehind: json_array(...) / make_array-
                # style names ending in 'array' are NOT the array() ctor
                is_arr = bool(re.search(r"(?<![\w.])array\s*$", a[:i], re.I))
                stack.append(is_arr)
                if is_arr:
                    d += 1
                    mx = max(mx, d)
            elif stack and stack.pop():
                d -= 1
        depth = mx
    flattens = (depth - 1) if depth is not None else 1
    out = a
    for _ in range(max(flattens, 0)):
        out = f"flatten(filter({out}, __e -> __e IS NOT NULL))"
    return f"({out})" if out != a else out


MACROS["array_flatten"] = _array_flatten_macro
MACROS["array_reverse_sort"] = _tpl("reverse(sort_array({0}))")


def _null_second_arg(template_null: str, passthrough: str) -> Macro:
    """Special-case a NULL literal second argument (Doris null semantics;
    Spark rejects or NULL-propagates)."""

    def m(args: Sequence[str]) -> str:
        if len(args) == 2 and args[0].strip().upper() == "NULL":
            # NULL array operand: NULL result (Doris semantics); BIGINT
            # covers position/remove-count shapes, comparator sees \N
            return "CAST(NULL AS BIGINT)"
        if len(args) == 2 and args[1].strip().upper() == "NULL":
            return template_null.format(args[0])
        return passthrough.format(*args) if passthrough else f"__KEEP__({', '.join(args)})"

    return m


# array_remove(arr, NULL) removes the null elements
MACROS["array_remove"] = _null_second_arg(
    "filter({0}, __x -> __x IS NOT NULL)", ""
)
# array_position(arr, NULL) finds the first null element (0 when none,
# NULL for a NULL array)
MACROS["array_position"] = _null_second_arg(
    "IF(({0}) IS NULL, CAST(NULL AS BIGINT), "
    "coalesce(CAST(array_position(transform({0}, __x -> __x IS NULL), true) AS BIGINT), 0))",
    "",
)


def _arrays_overlap(args: Sequence[str]) -> str:
    # null-safe overlap: null elements match each other (array_intersect
    # is null-safe, Spark's arrays_overlap is not); NULL operands —
    # literal or value — stay NULL
    if any(a.strip().upper() == "NULL" for a in args):
        return "CAST(NULL AS BOOLEAN)"
    return (
        f"IF(({args[0]}) IS NULL OR ({args[1]}) IS NULL, CAST(NULL AS BOOLEAN), "
        f"size(array_intersect({args[0]}, {args[1]})) > 0)"
    )


MACROS["arrays_overlap"] = _arrays_overlap


def _element_at_macro(args: Sequence[str]) -> str:
    # NULL array or NULL index -> NULL (Doris; Spark rejects the
    # untyped literal). Everything else keeps the native/dialect path.
    if len(args) == 2 and args[0].strip().upper() == "NULL":
        return "CAST(NULL AS STRING)"
    if len(args) == 2 and args[1].strip().upper() == "NULL":
        return f"try_element_at({args[0]}, CAST(NULL AS INT))"
    if len(args) == 2:
        # Doris subscripts are BIGINT; Spark's element_at index must be
        # INT — cast arithmetic (quote-free) index expressions. Map
        # string-key lookups and literal ints stay native.
        idx = args[1].strip()
        if (
            not re.fullmatch(r"-?\d+", idx)
            and "'" not in idx and '"' not in idx
            and re.search(r"[-+*/]", idx)
            and re.fullmatch(r"[\w\s()`+*/.-]+", idx)
        ):
            return f"try_element_at({args[0]}, CAST(({idx}) AS INT))"
    return f"__KEEP__({', '.join(args)})"


MACROS["element_at"] = _element_at_macro
# type-preserving push (the registered SQL UDF's STRING params would
# stringify numeric elements); array_append/prepend type the NULL
# element from the array side


def _push(fn: str) -> Macro:
    def m(args: Sequence[str]) -> str:
        if len(args) != 2:
            return f"__KEEP__({', '.join(args)})"
        if args[0].strip().upper() == "NULL":
            # NULL array -> NULL, typed from the pushed element
            return f"IF(false, array({args[1]}), NULL)"
        if args[1].strip().upper() == "NULL":
            # NULL element keeps the array's exact type (concat would
            # have nothing to widen against)
            return f"{fn}({args[0]}, {args[1]})"
        # concat coerces array/element type mismatches (decimal scale
        # differences etc.) to the common supertype, as the FE does;
        # array_append refuses them. NULL array propagates through concat.
        arr_v = f"array({args[1]})"
        pair = (
            f"{args[0]}, {arr_v}" if fn == "array_append" else f"{arr_v}, {args[0]}"
        )
        return f"concat({pair})"

    return m


MACROS["array_pushback"] = _push("array_append")
MACROS["array_pushfront"] = _push("array_prepend")


def _array_enumerate_uniq_macro(args: Sequence[str]) -> str:
    """Multi-array form: occurrence index of the TUPLE of elements at
    each position (ClickHouse arrayEnumerateUniq lineage —
    be/src/exprs/function/array, array_enumerate_uniq). Single-array
    form keeps the registered SQL UDF."""
    if len(args) <= 1:
        return f"__KEEP__({', '.join(args)})"
    z = f"arrays_zip({', '.join(args)})"
    return (
        f"transform({z}, (__x, __i) -> "
        f"size(filter(slice({z}, 1, __i + 1), __y -> __y <=> __x)))"
    )


MACROS["array_enumerate_uniq"] = _array_enumerate_uniq_macro


def _array_apply_macro(args: Sequence[str]) -> str:
    """Type-preserving array_apply (the DOUBLE-typed SQL UDF NULLs
    non-numeric elements — datetime/decimal arrays must compare
    natively; Spark coerces the string probe to the element type)."""
    if len(args) == 3:
        op = args[1].strip().strip("'\"")
        if op in ("=", "!=", ">", ">=", "<", "<="):
            if args[2].strip().upper() == "NULL":
                # NULL probe -> NULL result (BE array_apply semantics),
                # typed as the input array
                return f"IF(true, NULL, {args[0]})"
            return f"filter({args[0]}, __x -> __x {op} {args[2]})"
    return f"__KEEP__({', '.join(args)})"


MACROS["array_apply"] = _array_apply_macro


def _array_zip_macro(args: Sequence[str]) -> str:
    if any(a.strip().upper() == "NULL" for a in args):
        return "CAST(NULL AS ARRAY<INT>)"
    return f"arrays_zip({', '.join(args)})"


MACROS["array_zip"] = _array_zip_macro


def _dec_scale(text: str) -> int | None:
    """Max decimal scale of the literal elements in `text`, or None when
    the expression isn't a visibly-decimal literal array (DOUBLE casts,
    columns). Drives Doris DECIMAL result semantics for array_avg /
    array_product (bare x.y literals are DECIMAL in Doris, not DOUBLE)."""
    if re.search(r"(?i)\bdouble\b|\bfloat\b", text):
        return None
    scales = [
        int(m.group(1))
        for m in re.finditer(r"(?i)decimal(?:v3)?\s*\(\s*\d+\s*,\s*(\d+)\s*\)", text)
    ] or [len(m.group(1)) for m in re.finditer(r"\d+\.(\d+)", text)]
    return max(scales) if scales else None


def _trunc_expr(v: str, scale: int) -> str:
    # Doris DECIMAL narrowing TRUNCATES toward zero (cast would round);
    # the epsilon absorbs double representation error just below the
    # scale boundary
    f = 10 ** scale
    return (
        f"(CASE WHEN ({v}) >= 0 THEN floor(({v}) * {f} + 1e-6) / {f} "
        f"ELSE -floor(-({v}) * {f} + 1e-6) / {f} END)"
    )


def _array_avg_macro(args: Sequence[str]) -> str:
    """Doris array_avg over DECIMAL elements divides at scale
    max(s, 4) with truncation (docs array_aggregation; goldens
    array_avg([1.0, 2.0, null]) = 1.6666). Non-decimal input keeps the
    registered DOUBLE-typed UDF."""
    s = _dec_scale(args[0]) if len(args) == 1 else None
    if s is None:
        return f"__KEEP__({', '.join(args)})"
    a = args[0]
    live = f"filter({a}, __x -> __x IS NOT NULL)"
    avg = (
        f"aggregate({live}, CAST(0.0 AS DOUBLE), (__acc, __x) -> __acc + __x)"
        f" / size({live})"
    )
    return (
        f"(CASE WHEN ({a}) IS NULL OR size({live}) = 0 THEN NULL "
        f"ELSE {_trunc_expr(avg, max(s, 4))} END)"
    )


def _array_product_macro(args: Sequence[str]) -> str:
    """Doris array_product over DECIMAL(p, s) elements keeps scale s and
    TRUNCATES after every step (goldens: array_product([1.12, 3.45,
    4.23]) = 16.32, i.e. 1.12*3.45 -> 3.86 before the next multiply)."""
    s = _dec_scale(args[0]) if len(args) == 1 else None
    if s is None:
        return f"__KEEP__({', '.join(args)})"
    a = args[0]
    live = f"filter({a}, __x -> __x IS NOT NULL)"
    step = _trunc_expr("__acc * __x", s)
    return (
        f"(CASE WHEN ({a}) IS NULL OR size({live}) = 0 THEN NULL "
        f"ELSE aggregate({live}, CAST(1.0 AS DOUBLE), "
        f"(__acc, __x) -> {step}) END)"
    )


MACROS["array_avg"] = _array_avg_macro
MACROS["array_product"] = _array_product_macro


def _array_reverse_split(args: Sequence[str]) -> str:
    """array_reverse_split: marked elements END their group (the mirror of
    array_split's group-starting marks)."""
    if args and "->" in args[0]:
        params, _, body = args[0].partition("->")
        params, body = params.strip(), body.strip()
        arr = args[1]
        if len(args) >= 3:
            marks = f"zip_with({args[1]}, {args[2]}, {params} -> {_bool01(body)})"
        else:
            marks = f"transform({args[1]}, {params} -> {_bool01(body)})"
    else:
        arr = args[0]
        marks = f"transform({args[1]}, __f -> {_bool01('__f')})"
    ends = (
        f"filter(sequence(1, size({arr})), "
        f"__i -> __i = size({arr}) OR try_element_at({marks}, __i) = 1)"
    )
    prev_end = f"IF(__g = 0, 0, coalesce(try_element_at({ends}, __g), 0))"
    return (
        f"CASE WHEN ({arr}) IS NULL THEN NULL WHEN size({arr}) = 0 THEN array() ELSE "
        f"transform({ends}, (__e, __g) -> slice({arr}, "
        f"{prev_end} + 1, __e - {prev_end})) END"
    )


MACROS["array_reverse_split"] = _array_reverse_split
# NULL repeat counts produce an empty array, not NULL
MACROS["array_repeat"] = _tpl("array_repeat({0}, coalesce(CAST({1} AS INT), 0))")
MACROS["array_with_constant"] = _tpl(
    "array_repeat({1}, coalesce(CAST({0} AS INT), 0))"
)
MACROS["array_compact"] = _array_compact
MACROS["array_contains"] = _array_contains
MACROS["array_zip"] = _rename("arrays_zip")
MACROS["array_first"] = _array_first
MACROS["array_last"] = _array_last
MACROS["array_first_index"] = _array_first_index
MACROS["array_last_index"] = _array_last_index
MACROS["array_sortby"] = _array_sortby

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


_SET_LC = re.compile(
    r"^\s*SET\s+lc_time_names\s*=\s*'?([A-Za-z_]+)'?\s*;?\s*$", re.I
)
_SET_BEM = re.compile(
    r"^\s*SET\s+block_encryption_mode\s*=\s*[\"']?([A-Za-z0-9_]*)[\"']?"
    r"\s*;?\s*$",
    re.I,
)


# TVFs backed by Python UDTFs (functions/tvf.py, functions/udtf.py):
# Spark's LATERAL VIEW clause only accepts Generator expressions, so
# these names must go through lateral table-function syntax instead
# (`FROM t, LATERAL fn(args) alias (cols)`).
_PY_UDTFS = {
    "explode_json_object", "json_each", "json_each_text",
    "explode_split", "explode_numbers", "explode_bitmap", "explode_map",
    "explode_variant_array", "unnest", "sentences", "numbers_gap",
    "explode_json_array_string", "explode_json_array_int",
    "explode_json_array_double", "explode_json_array_json",
}
_PY_UDTFS |= {n + "_outer" for n in list(_PY_UDTFS)}

_LATVIEW = re.compile(
    r"\bLATERAL\s+VIEW\s+(OUTER\s+)?(\w+)\s*\(", re.I
)


def _lateral_view_udtfs(sql: str) -> str:
    """`LATERAL VIEW [OUTER] py_udtf(args) alias AS c1[, c2]` ->
    `, LATERAL py_udtf[_outer](args) alias (c1, c2)` — only for names
    Spark cannot host in a LATERAL VIEW (Python UDTFs); builtin
    generators (explode, posexplode, inline, ...) stay untouched."""
    while True:
        m = _LATVIEW.search(sql)
        if m is None or m.group(2).lower() not in _PY_UDTFS:
            if m is None:
                return sql
            # skip past a non-UDTF lateral view and keep scanning
            nxt = _LATVIEW.search(sql, m.end())
            if nxt is None:
                return sql
            # restart the loop anchored past this match by splitting
            head, tail = sql[: m.end()], sql[m.end():]
            return head + _lateral_view_udtfs(tail)
        fn = m.group(2).lower()
        if m.group(1) and not fn.endswith("_outer"):
            fn += "_outer"
        k = find_close(sql, m.end() - 1) + 1  # balanced args
        args = sql[m.end(): k - 1]
        tail = sql[k:]
        am = re.match(
            r"\s*`?(\w+)`?\s+AS\s+((?:`?\w+`?\s*,\s*)*`?\w+`?)",
            tail, re.I,
        )
        if am is None:
            return sql  # unexpected shape; leave untouched
        alias, cols = am.group(1), am.group(2).replace("`", "")
        repl = f", LATERAL {fn}({args}) {alias} ({cols})"
        sql = sql[: m.start()] + repl + tail[am.end():]


# Macros whose expansion is a COMPOSITION of aggregate calls (the
# zero-variance CASE shapes): a trailing OVER (...) in the source must
# attach to EVERY aggregate inside the expansion, not dangle after the
# CASE (pinned by correctness_p0/test_select_stddev_variance_window).
_WIN_DISTRIB = {
    "stddev_samp", "var_samp", "variance_samp", "covar_samp", "corr", "sem",
    "exponential_moving_average",
    # NaN-excluding percentile family (round-8 macros): the CASE wrapper
    # must not swallow a trailing OVER (...) — attach it to every inner
    # aggregate instead (test_select_stddev_variance_window)
    "percentile", "percentile_array", "percentile_approx",
    "percentile_approx_weighted",
    # bitmap aggregates as windows (BITMAP_UNION_COUNT(pv) OVER (...)):
    # the CAST/size wrapper must not swallow the OVER —
    # conditional_functions/test_nullif.groovy if_nullif29
    "bitmap_union", "bitmap_union_count", "bitmap_agg",
}
_AGG_CALL = re.compile(
    r"\b(count|sum|avg|min|max|stddev_samp|stddev_pop|var_samp|var_pop|"
    r"covar_samp|covar_pop|corr|collect_list|collect_set|percentile)\s*\(",
    re.I,
)


def _attach_over(expansion: str, over_text: str) -> str:
    """Append `over_text` after every aggregate call in `expansion`."""
    out, i, n = [], 0, len(expansion)
    lit_end = dict(lit_spans(expansion))
    while i < n:
        if i in lit_end:
            out.append(expansion[i : lit_end[i]])
            i = lit_end[i]
            continue
        m = _AGG_CALL.match(expansion, i)
        if m:
            k = find_close(expansion, m.end() - 1)
            out.append(expansion[i : k + 1] + " " + over_text)
            i = k + 1
            continue
        out.append(expansion[i])
        i += 1
    return "".join(out)


def rewrite(sql: str, spark=None) -> str:
    """Expand Doris-spelling calls into Spark SQL (recursive, innermost
    args first, string literals untouched). SET lc_time_names is captured
    as session-variable state and forwarded as a harmless Spark SET.
    `spark` is the session whose catalog an ASOF join's right relation
    is typed in (plans/asof_sql.py)."""
    m = _SET_LC.match(sql)
    if m:
        set_lc_time_names(m.group(1))
        return f"SET doris_spark.lc_time_names={m.group(1)}"
    m = _SET_BEM.match(sql)
    if m:
        set_block_encryption_mode(m.group(1))
        return f"SET doris_spark.block_encryption_mode={m.group(1)}"
    if re.match(
        r"(?i)^\s*UNSET\s+VARIABLE\s+block_encryption_mode\s*;?\s*$", sql
    ):
        set_block_encryption_mode("")
        return "SET doris_spark.block_encryption_mode="
    m = re.match(
        # the dialect tier may have requoted the value ('v' -> `v`)
        r"(?i)^\s*CREATE\s+ENCRYPTKEY\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"`?(\w+)`?\s+AS\s+(?:'([^']*)'|`([^`]*)`|\"([^\"]*)\")\s*;?\s*$",
        sql,
    )
    if m:
        ENCRYPT_KEYS[m.group(1).lower()] = (
            m.group(2) or m.group(3) or m.group(4) or "")
        return f"SET doris_spark.encryptkey.{m.group(1).lower()}=1"
    m = re.match(
        r"(?i)^\s*DROP\s+ENCRYPTKEY\s+(?:IF\s+EXISTS\s+)?"
        r"`?(\w+)`?\s*;?\s*$",
        sql,
    )
    if m:
        ENCRYPT_KEYS.pop(m.group(1).lower(), None)
        return f"SET doris_spark.encryptkey.{m.group(1).lower()}=0"
    if _LATVIEW.search(sql):
        sql = _lateral_view_udtfs(sql)
    if "asof" in sql.lower():
        from doris_spark.plans.asof_sql import rewrite_asof

        sql = rewrite_asof(sql, spark)
    out = []
    i = 0
    n = len(sql)
    lits = lit_spans(sql)
    lit_by_start = {a: b for a, b in lits}
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            # shared-tokenizer literal span (escape-aware — a macro name
            # inside 'a\'b || substr(x)' must not be expanded)
            j = lit_by_start.get(i, i + 1)
            out.append(sql[i:j])
            i = j
            continue
        m = _IDENT.match(sql, i)
        if m:
            name = m.group(0)
            j = m.end()
            while j < n and sql[j] in " \t\n":
                j += 1
            if j < n and sql[j] == "(" and name.lower() in MACROS:
                k = find_close(sql, j)  # balanced close, quote-aware
                inner = sql[j + 1 : k]
                dmm = re.match(r"(?i)\s*DISTINCT\b\s*", inner)
                want_distinct = bool(
                    dmm and name.lower() in _DISTINCT_STRIP)
                if want_distinct:
                    inner = inner[dmm.end():]
                args = [rewrite(a) for a in split_args_top(inner)]
                expansion = MACROS[name.lower()](args)
                if want_distinct and not expansion.startswith("__KEEP__("):
                    expansion = _insert_distinct(expansion)
                elif want_distinct:
                    expansion = (expansion[: len("__KEEP__(")]
                                 + "DISTINCT " + expansion[len("__KEEP__("):])
                if expansion.startswith("__KEEP__("):
                    expansion = name + expansion[len("__KEEP__") :]
                i = k + 1
                if name.lower() in _WIN_DISTRIB:
                    # trailing OVER (...): distribute into the expansion
                    p = i
                    while p < n and sql[p] in " \t\n":
                        p += 1
                    if sql[p : p + 4].upper() == "OVER":
                        q = p + 4
                        while q < n and sql[q] in " \t\n":
                            q += 1
                        if q < n and sql[q] == "(":
                            r = find_close(sql, q)
                            expansion = _attach_over(
                                expansion, "OVER " + sql[q : r + 1]
                            )
                            i = r + 1
                out.append(expansion)
                continue
            out.append(name)
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)
