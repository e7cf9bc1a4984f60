"""Property tests for the shared SQL tokenizer (plans/sqltok.py).

Round-9/-10 ADVICE both flagged bugs from per-module scanner drift
(stale-offset rewrites, literal corruption). These pin the shared
primitives' invariants and that the macro tiers preserve
literal content and paren balance.
"""

import re

import pytest

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except Exception:  # pragma: no cover
    HAVE_HYP = False

from doris_spark.plans.sqltok import (
    depth0_search,
    depth_at,
    find_close,
    find_open_back,
    in_spans,
    lit_spans,
    split_args_top,
    split_top,
    sub_outside_literals,
)

sql_text = st.text(
    alphabet=st.sampled_from(list("ab_ ,()[]'\"\\x1+-")), max_size=60
)


@settings(max_examples=300, deadline=None)
@given(sql_text)
def test_lit_spans_invariants(s):
    spans = lit_spans(s)
    prev_end = 0
    for a, b in spans:
        assert 0 <= a < b <= len(s)
        assert a >= prev_end, "spans must not overlap"
        assert s[a] in "'\""
        prev_end = b


@settings(max_examples=300, deadline=None)
@given(sql_text)
def test_sub_outside_literals_preserves_literal_content(s):
    out = sub_outside_literals(r"[ab]", "Z", s)
    # every literal span's inner content must appear verbatim in out
    for a, b in lit_spans(s):
        assert s[a:b] in out


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(alphabet="abc(_)'x", max_size=8), max_size=5))
def test_split_args_top_roundtrip_balanced(parts):
    # join balanced, quote-closed fragments; split must return them
    def balanced(p):
        if not p.strip() or "," in p:
            return False
        spans = lit_spans(p)
        if any(p[b - 1] not in "'\"" or b - a < 2 for a, b in spans):
            return False  # unterminated literal
        # doubled-quote ambiguity: a fragment ending like ''' scans as
        # closed alone but re-opens when text follows — reject when a
        # trailing sentinel would land inside a literal
        if any(b > len(p) for _a, b in lit_spans(p + "\x01x")):
            return False
        depth = 0
        for i, ch in enumerate(p):
            if in_spans(spans, i):
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return False
        return depth == 0

    parts = [p.strip() for p in parts if balanced(p)]
    joined = ", ".join(parts)
    assert split_args_top(joined) == parts


@settings(max_examples=300, deadline=None)
@given(sql_text)
def test_find_close_matches(s):
    for i, c in enumerate(s):
        if c == "(" and not in_spans(lit_spans(s), i):
            j = find_close(s, i)
            if j < len(s):
                assert s[j] == ")"
                assert find_open_back(s, j) == i


# ---- the linear primitives against naive per-character references

scan_text = st.text(
    alphabet=st.sampled_from(list("aAnNdD ,()[]{}'\"`\\x")), max_size=50
)


def _naive_masks(s):
    """Per-char (in_literal, opaque) by a char-at-a-time lexer: a
    literal honors backslash and doubled-quote escapes; a backquoted
    identifier is opaque but not a literal."""
    lit, opaque = [False] * len(s), [False] * len(s)
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c not in "'\"`":
            i += 1
            continue
        j = i + 1
        while j < n:
            if c != "`" and s[j] == "\\":
                j += 2
            elif s[j] == c and c != "`" and j + 1 < n and s[j + 1] == c:
                j += 2
            elif s[j] == c:
                break
            else:
                j += 1
        end = min(j + 1, n)
        for k in range(i, end):
            opaque[k] = True
            lit[k] = c != "`"
        i = end
    return lit, opaque


def _naive_depth0(s, pat, start=0):
    _lit, opaque = _naive_masks(s)
    depth = 0
    for p in range(start, len(s)):
        if opaque[p]:
            continue
        m = pat.match(s, p)
        if m and depth == 0:
            return m
        depth += (s[p] in "([{") - (s[p] in ")]}")
        if depth < 0:
            return None
    return None


@settings(max_examples=400, deadline=None)
@given(scan_text, st.integers(min_value=-1, max_value=52))
def test_in_spans_matches_naive(s, i):
    spans = lit_spans(s)
    assert in_spans(spans, i) == any(a <= i < b for a, b in spans)
    lit, _opaque = _naive_masks(s)
    if 0 <= i < len(s):
        assert in_spans(spans, i) == lit[i]


@settings(max_examples=400, deadline=None)
@given(scan_text)
def test_find_close_and_open_back_match_naive(s):
    _lit, opaque = _naive_masks(s)
    pairs = {"(": ")", "[": "]", "{": "}"}
    for i, c in enumerate(s):
        if opaque[i]:
            continue
        if c in pairs:
            depth, want = 0, len(s)
            for j in range(i, len(s)):
                if opaque[j]:
                    continue
                depth += (s[j] == c) - (s[j] == pairs[c])
                if depth == 0:
                    want = j
                    break
            assert find_close(s, i) == want
        if c in pairs.values():
            opener = {v: k for k, v in pairs.items()}[c]
            depth, want = 0, -1
            for j in range(i, -1, -1):
                if opaque[j]:
                    continue
                depth += (s[j] == c) - (s[j] == opener)
                if depth == 0:
                    want = j
                    break
            assert find_open_back(s, i) == want


@settings(max_examples=400, deadline=None)
@given(scan_text, st.sampled_from([r",", r"(?i)(?<!\w)and(?!\w)", r"[,)]", r"x+"]))
def test_depth0_search_matches_naive(s, sep):
    pat = re.compile(sep)
    _lit, opaque = _naive_masks(s)
    for start in [0] + [i for i in range(1, len(s)) if not opaque[i]][:6]:
        got = depth0_search(s, pat, start)
        want = _naive_depth0(s, pat, start)
        assert (got and got.span()) == (want and want.span())


@settings(max_examples=400, deadline=None)
@given(scan_text, st.sampled_from([",", r"(?i)(?<!\w)and(?!\w)"]))
def test_split_top_matches_naive(s, sep):
    pat = re.compile(sep)
    parts, pos = [], 0
    while (m := _naive_depth0(s, pat, pos)) is not None:
        parts.append(m)
        pos = m.end()
    want, last = [], 0
    for m in parts:
        want.append(s[last : m.start()])
        last = m.end()
    want.append(s[last:])
    assert split_top(s, sep) == want


@settings(max_examples=400, deadline=None)
@given(scan_text)
def test_depth_at_matches_naive(s):
    _lit, opaque = _naive_masks(s)
    depth = 0
    for pos in range(len(s) + 1):
        assert depth_at(s, pos) == depth
        if pos < len(s) and not opaque[pos]:
            depth += (s[pos] in "([{") - (s[pos] in ")]}")


def test_split_args_top_keeps_trailing_empty_arg():
    assert split_args_top("a, f(b, ','), ") == ["a", "f(b, ',')", ""]
    assert split_args_top("  ") == []
    assert split_args_top(r"'a\', b', c") == [r"'a\', b'", "c"]


MACRO_SAMPLES = [
    "select group_concat(x, ',' order by y) from t",
    "select nvl(a, 'it''s'), if(a > 1, 'y\\'s', 'n') from t",
    "select window_funnel(3600, 'default', ts, e = 'a', e = 'b') from t",
    "select map_agg(k, v)[null], histogram(x) from t group by g",
    "select retention(d = 1, d = 2), percentile(x, 0.5) from t",
    "select t.tag from x, unnest(tags) with ordinality as t(pos, tag)",
]


@pytest.mark.parametrize("sql", MACRO_SAMPLES)
def test_macro_output_balanced(sql):
    """Macro/dialect output must keep parens balanced and literals
    intact (re-parseable shape)."""
    from doris_spark.plans.dialect import dialect
    from doris_spark.plans.sql_macros import rewrite

    out = rewrite(dialect(sql))
    spans = lit_spans(out)
    depth = 0
    for i, ch in enumerate(out):
        if in_spans(spans, i):
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            assert depth >= 0, out
    assert depth == 0, out
    # no unterminated literal
    for a, b in spans:
        assert b <= len(out) and out[b - 1] in "'\"", out
