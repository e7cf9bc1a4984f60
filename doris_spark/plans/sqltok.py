"""Shared quote/paren-aware SQL text scanning primitives.

The one literal rule for every text pass of the engine. These modules
scan SQL through it and keep no scanner of their own: engine.py (DML,
INSERT ... VALUES, `* REPLACE`, the SQL-UDF inlining and CTE-alias
retries), plans/dialect.py, plans/sql_macros.py, plans/typed_arith.py,
plans/unnest_rewrite.py, plans/asof_sql.py,
plans/mv_rewrite.py, plans/recursive_cte.py and
plans/const_cast_fold.py. Two round-10 bugs (chained RIGHT SEMI/ANTI
rewriting at stale offsets, `_is_bool_sub` corrupting string literals)
came from per-module copies of these scans drifting apart; most copies
ignored MySQL backslash escapes (``'a\\'b'``).

Canonical literal rules (matching the reference FE's MySQL-compatible
lexer, fe/fe-sql-parser DorisLexer: STRING_LITERAL):
- '...' and "..." delimit string literals;
- a backslash escapes the next char inside a literal;
- a doubled quote ('' or "") inside a same-quoted literal is an
  escaped quote, not a terminator;
- a `backquoted` identifier is one token: quotes, brackets and
  keywords inside it are neither literals nor structure (it is not in
  `lit_spans`, but no depth-0 match starts inside it).

Nesting: `find_close`/`find_open_back` match one bracket kind; the depth
of `depth0_search`, `depth_at` and `split_top` counts (), [] and {}
together. A scan that starts at `start` lexes from there, so `start`
must lie outside a literal. Every primitive is one left-to-right pass.

Property tests: tests/test_sqltok_properties.py.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from collections.abc import Iterator, Sequence

_INF = float("inf")
_QUOTE = re.compile(r"['\"`]")
_LIT_STOP = {"'": re.compile(r"[\\']"), '"': re.compile(r'[\\"]')}
_STRUCT = re.compile(r"['\"`()\[\]{}]")
_PAIRS = {"(": ")", "[": "]", "{": "}"}
_OPENERS = {v: k for k, v in _PAIRS.items()}


def _lit_end(text: str, i: int) -> int:
    """End (exclusive) of the literal (or backquoted identifier) whose
    opening quote is at `i`."""
    q, n = text[i], len(text)
    if q == "`":
        j = text.find("`", i + 1)
        return n if j < 0 else j + 1
    stop, j = _LIT_STOP[q], i + 1
    while (m := stop.search(text, j)) is not None:
        j = m.start()
        if text[j] == "\\":
            j += 2
        elif j + 1 < n and text[j + 1] == q:  # doubled quote
            j += 2
        else:
            return j + 1
    return n


def lit_spans(text: str) -> list[tuple[int, int]]:
    """[start, end) spans of '...' / "..." string literals, honoring
    backslash-escaped and doubled-quote escapes (a quote inside a
    `backquoted` identifier opens none)."""
    spans, i = [], 0
    while (m := _QUOTE.search(text, i)) is not None:
        i = _lit_end(text, m.start())
        if m.group() != "`":
            spans.append((m.start(), i))
    return spans


def in_spans(spans: Sequence[tuple[int, int]], i: int) -> bool:
    """`i` lies in one of `spans` (sorted, non-overlapping)."""
    k = bisect_right(spans, (i, _INF)) - 1
    return k >= 0 and i < spans[k][1]


def _events(text: str, start: int) -> Iterator[tuple[int, int, int]]:
    """Structure from `start`, in order: (a, b, 0) for a literal or a
    backquoted identifier (opaque: no match starts inside it), and
    (p, p + 1, +1 / -1) for an opening / closing bracket."""
    i = start
    while (m := _STRUCT.search(text, i)) is not None:
        p = m.start()
        c = text[p]
        if c in "'\"`":
            i = _lit_end(text, p)
            yield p, i, 0
        else:
            i = p + 1
            yield p, i, 1 if c in "([{" else -1


def _depth0_iter(text: str, pat: re.Pattern, start: int) -> Iterator[re.Match]:
    """Non-overlapping matches of `pat` starting outside literals at
    nesting depth 0 relative to `start`; stops where the scan leaves the
    enclosing block. A match may start AT a bracket (depth is taken
    before it)."""
    ev = _events(text, start)
    cur = next(ev, None)
    depth, pos = 0, start
    while (m := pat.search(text, pos)) is not None:
        p = m.start()
        while cur is not None and cur[1] <= p:
            depth += cur[2]
            if depth < 0:
                return
            cur = next(ev, None)
        if cur is not None and cur[2] == 0 and cur[0] <= p:
            pos = cur[1]  # inside a literal: resume after it
            continue
        if depth == 0:
            yield m
            pos = m.end() if m.end() > p else p + 1
        else:
            pos = p + 1


def _compile(pattern, flags: int) -> re.Pattern:
    return re.compile(pattern, flags) if isinstance(pattern, str) else pattern


def sub_outside_literals(pattern, repl, text: str, flags=0) -> str:
    """re.sub that skips matches starting inside string literals."""
    pat = _compile(pattern, flags)
    spans = lit_spans(text)

    def guarded(m: re.Match) -> str:
        if in_spans(spans, m.start()):
            return m.group(0)
        return repl(m) if callable(repl) else m.expand(repl)

    # spans computed once remain valid: guarded() returns the original
    # text for in-literal matches (no length change there), and re.sub
    # scans left-to-right over the ORIGINAL string.
    return pat.sub(guarded, text)


def split_top(text: str, sep=",") -> list[str]:
    """Split `text` at every match of the regex `sep` (a string or a
    compiled pattern) that starts outside literals at nesting depth 0.
    Parts are returned unstripped, like str.split: n separators give
    n + 1 parts."""
    parts, last = [], 0
    for m in _depth0_iter(text, _compile(sep, 0), 0):
        parts.append(text[last : m.start()])
        last = m.end()
    parts.append(text[last:])
    return parts


def split_args_top(text: str) -> list[str]:
    """Stripped top-level comma split of an argument list: `a, f(b, c)`
    -> ['a', 'f(b, c)']; `a,` -> ['a', '']; a blank list -> []."""
    parts = [p.strip() for p in split_top(text)]
    return [] if parts == [""] else parts


def find_close(text: str, i: int) -> int:
    """`i` points at '(', '[' or '{'; return the index OF the matching
    close, or len(text) if unbalanced. Only that bracket kind counts."""
    opener = text[i]
    closer = _PAIRS[opener]
    depth = 0
    for p, _b, _d in _events(text, i):
        c = text[p]
        if c == opener:
            depth += 1
        elif c == closer:
            depth -= 1
            if depth == 0:
                return p
    return len(text)


def find_open_back(text: str, i: int) -> int:
    """`i` points at ')', ']' or '}'; return the index of the matching
    opener, or -1. Only that bracket kind counts."""
    closer = text[i]
    opener = _OPENERS[closer]
    opens: list[int] = []
    for p, _b, _d in _events(text, 0):
        if p >= i:
            break
        c = text[p]
        if c == opener:
            opens.append(p)
        elif c == closer and opens:
            opens.pop()
    return opens[-1] if opens else -1


def depth0_search(
    text: str, pattern, start: int = 0, flags=0
) -> re.Match | None:
    """First regex match starting outside literals at nesting depth 0
    relative to `start` (a match may start at a bracket: `[,)]` finds
    the close of the enclosing block); None if the scan leaves the
    block first."""
    return next(_depth0_iter(text, _compile(pattern, flags), start), None)


def depth_at(text: str, pos: int) -> int:
    """Nesting depth at `pos`: brackets opened and not closed before it,
    outside literals."""
    depth = 0
    for p, _b, d in _events(text, 0):
        if p >= pos:
            break
        depth += d
    return depth
