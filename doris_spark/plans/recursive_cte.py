"""Recursive CTE (WITH RECURSIVE): native Spark path + driver fixpoint loop.

Reference analog: rec_cte sink/source/scan operators
(be/src/exec/operator/rec_cte_sink_operator.h:33, rec_cte_source_operator.h,
rec_cte_scan_operator.h; FE LogicalRecursiveUnion.java).

Two tiers:

1. **Native (preferred)** — Spark 4 executes `WITH RECURSIVE ... UNION ALL`
   JVM-side (UnionLoop operator; recursion depth capped by
   `spark.sql.cteRecursionLevelLimit`, default 100). Just `spark.sql()` it.
   Measured ~10x faster than the driver loop (rec_cte_bfs 17.7s -> 1.7s hot
   at sf0.1) because each level is an internal iteration, not a separate
   driver-scheduled job chain. UNION ALL is the only supported mode, so on
   cyclic graphs put `SELECT DISTINCT` in the recursive term: the frontier
   then stays bounded by |V| per level instead of counting paths.

2. **Driver loop (below)** — for UNION DISTINCT semantics (global dedup
   against the accumulated set, i.e. true semi-naive evaluation) or
   unbounded-depth recursion where only new rows may feed the next step.
   Each iteration is a full Catalyst-optimized plan over the previous
   frontier.

Scale design:
- UNION DISTINCT mode subtracts the accumulated result from each new
  frontier (the standard semi-naive evaluation — only *new* rows feed the
  next step), so work per iteration is proportional to the frontier, not
  the accumulated set.
- localCheckpoint() truncates lineage each iteration; without it the plan
  tree doubles per step and the driver OOMs on plan serialization long
  before data is a problem.
- Emptiness is tested with isEmpty() (limit-1 scan), not count().
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def recursive_union(
    anchor: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    distinct: bool = True,
    max_iterations: int = 100,
    checkpoint_every: int = 1,
    shuffle_partitions: int | None = None,
    checkpoint_step: bool = False,
) -> DataFrame:
    """Evaluate WITH RECURSIVE: anchor UNION [ALL] step(frontier) ...

    `step` maps the previous iteration's frontier to the next candidate
    rows (same schema). Returns the accumulated result. Raises if
    max_iterations is exceeded (matching the reference's
    max_recursion_depth guard).

    `shuffle_partitions` sizes the per-iteration shuffles (join/subtract)
    to the expected FRONTIER, not the cluster: a bounded-frontier recursion
    (graph reachability over a small node set, org charts, BOM explosions)
    spends its time in stage scheduling, not data — measured 0.38s vs
    1.2s per iteration at 1 vs 32 partitions on a 25-node BFS. Leave None
    for unbounded frontiers (the session default applies). The session
    conf is restored after the loop.

    (Measured dead end, do not revisit: fusing k steps into one
    checkpoint job — 'unrolling' — is SLOWER than one job per step; the
    un-checkpointed step-k subtree is recomputed inside step k+1 and
    ReusedExchange does not rescue the nested subtract shapes.)
    """
    spark = anchor.sparkSession
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        frontier = anchor.localCheckpoint(eager=True)
        result = frontier
        for i in range(max_iterations):
            nxt = step(frontier)
            if checkpoint_step:
                # mutual-recursion steps read OTHER materialized CTE
                # views; subtracting over the raw cross-view plan trips
                # a Spark attribute-rebind bug in localCheckpoint
                # ("key not found: <attr>") — materialize first
                nxt = nxt.localCheckpoint(eager=True)
            if distinct:
                # subtract IS "EXCEPT DISTINCT": it both dedups the frontier
                # and removes already-seen rows — one shuffle, not two.
                nxt = nxt.subtract(result)
            if (i + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
            if nxt.isEmpty():
                return result
            # The accumulator is a union over already-checkpointed frontiers:
            # each leaf is materialized, so the plan stays shallow without its
            # own per-iteration checkpoint job (subtract re-reads the cached
            # frontier blocks either way).
            result = result.unionByName(nxt)
            frontier = nxt
        raise RuntimeError(
            f"ABORTED: recursive_union reached the max recursion depth "
            f"({max_iterations}) without a fixpoint"
        )
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved)


# ---------------------------------------------------------------------------
# SQL surface: WITH RECURSIVE ... UNION [DISTINCT] ...
#
# Spark 4's native UnionLoop executes only the UNION ALL form; Doris also
# accepts plain UNION with global-dedup semantics (FE
# LogicalRecursiveUnion.java; pinned by rec_cte_p0/rec_cte). This path
# parses the single-CTE statement shape and evaluates it with the
# semi-naive driver loop above: the recursive term sees the previous
# frontier (the SQL-standard working table), new rows are deduped
# against the accumulated set, iteration stops at the empty frontier.

import re as _re

from doris_spark.plans.sqltok import depth0_search, find_close


_VIEW_SEQ = 0  # unique internal temp-view names across calls

_REC_HEAD = _re.compile(r"^\s*WITH\s+RECURSIVE\s+", _re.I)
_CTE_HEAD = _re.compile(r"\s*`?(\w+)`?\s*(?:\(([^)]*)\))?\s*AS\s*\(", _re.I)
_PLAIN_UNION = _re.compile(r"\bUNION\b(?!\s+ALL\b)", _re.I)


_CAST_INT_RE = None  # compiled lazily (module import order)


def _overflow_null_casts(sql: str) -> str:
    """cast(x AS <int kind>) -> NULL on overflow (Doris non-strict BE
    cast) instead of Spark's two's-complement wrap."""
    global _CAST_INT_RE
    if _CAST_INT_RE is None:
        _CAST_INT_RE = _re.compile(
            r"(?i)\bcast\s*\(((?:[^()']|'[^']*'|"
            r"\((?:[^()']|'[^']*'|\([^()]*\))*\))+?)\s+as\s+"
            r"(tinyint|smallint|int|integer|bigint)\s*\)")

    def r(m: "_re.Match") -> str:
        e, t = m.group(1), m.group(2).lower()
        bits = {"tinyint": 7, "smallint": 15, "int": 31,
                "integer": 31, "bigint": 63}[t]
        lo, hi = -(1 << bits), (1 << bits) - 1
        big = (f"CAST(({e}) AS DECIMAL(38,0))" if t == "bigint"
               else f"CAST(({e}) AS BIGINT)")
        st = "INT" if t == "integer" else t.upper()
        return (f"(CASE WHEN {big} BETWEEN {lo} AND {hi} "
                f"THEN CAST(({e}) AS {st}) END)")

    return _CAST_INT_RE.sub(r, sql)


def try_recursive_union_sql(engine, text: str):
    """Evaluate a WITH RECURSIVE statement whose CTE chain contains at
    least one plain-UNION (distinct) recursive member — the form
    Spark's native UnionLoop rejects. Each CTE is materialized in
    order as a temp view (so later members may reference earlier ones,
    including the mutual-recursion suites' t1/t2 chains); plain-UNION
    self-recursive members run through the semi-naive driver loop,
    UNION ALL members and plain members run natively. Returns None when
    the statement isn't WITH RECURSIVE or has no plain-UNION member
    (native Spark handles it)."""
    m = _REC_HEAD.match(text)
    if m is None:
        return None
    nested_views: list[str] = []
    ctes = []  # (name, collist, body)
    pos = m.end()
    while True:
        hm = _CTE_HEAD.match(text, pos)
        if hm is None:
            return None
        end = find_close(text, hm.end() - 1) + 1
        if end > len(text):
            return None
        ctes.append((hm.group(1), hm.group(2),
                     text[hm.end(): end - 1]))
        rest = text[end:]
        stripped = rest.lstrip()
        if stripped.startswith(","):
            pos = end + (len(rest) - len(stripped)) + 1
            continue
        outer = stripped.rstrip(";").strip()
        break

    def plain_union_split(body: str, name: str):
        """(anchor_sql, step_sql) at the first top-level plain UNION
        whose right side references `name`, else None."""
        ref = _re.compile(rf"(?<![\w.`]){name}(?![\w`])", _re.I)
        pos = 0
        while (um := depth0_search(body, _PLAIN_UNION, pos)) is not None:
            if ref.search(body[um.end():]):
                return body[: um.start()], body[um.end():]
            pos = um.end()
        return None

    if not any(plain_union_split(b, n) for n, _, b in ctes):
        return None  # UNION ALL recursion only -> native Spark path

    # Materialized CTEs register under UNIQUE internal view names (never
    # the user-facing CTE name): a CTE named like an existing table/view
    # must not shadow it for later statements in the session. References
    # in later bodies and the outer query are rewritten to the internal
    # names, and every internal view is dropped once the outer result is
    # analyzed (spark.sql analyzes eagerly; the data survives via the
    # localCheckpoint).
    global _VIEW_SEQ
    spark = engine.spark

    def subst(sql: str, mapping: dict[str, str]) -> str:
        for orig, internal in mapping.items():
            sql = _re.sub(rf"(?<![\w.`]){orig}(?![\w`])", internal, sql,
                          flags=_re.I)
        return sql

    def materialize_nested(sql: str) -> str:
        """Evaluate parenthesized nested `(WITH RECURSIVE ...)` derived
        tables (rec_cte_p0: a recursive CTE inside a recursive member)
        into checkpointed views, substituting `(SELECT * FROM <view>)`."""
        global _VIEW_SEQ
        while True:
            nm = _re.search(r"\(\s*WITH\s+RECURSIVE\b", sql, _re.I)
            if nm is None:
                return sql
            end = find_close(sql, nm.start()) + 1
            if end > len(sql):
                return sql
            inner = sql[nm.start() + 1: end - 1]
            import os as _os

            df = try_recursive_union_sql(engine, inner)
            if df is None:
                try:
                    df = engine.sql(inner)
                except Exception:
                    if _os.environ.get("RC_DEBUG"):
                        import traceback as _tb

                        _tb.print_exc()
                    return sql
            _VIEW_SEQ += 1
            v = f"__rec_nested_{_VIEW_SEQ}"
            df.localCheckpoint(eager=True).createOrReplaceTempView(v)
            nested_views.append(v)
            sql = sql[: nm.start()] + f"(SELECT * FROM {v})" + sql[end:]

    mapping: dict[str, str] = {}  # lowercase original -> internal view
    try:
        for name, collist, body in ctes:
            if _re.search(r"\(\s*WITH\s+RECURSIVE\b", body, _re.I):
                body = materialize_nested(body)
            _VIEW_SEQ += 1
            internal = f"__rec_cte_{name.lower()}_{_VIEW_SEQ}"
            cols = ([c.strip().strip("`") for c in collist.split(",")]
                    if collist else None)
            split = plain_union_split(body, name)
            self_ref = _re.search(
                rf"(?<![\w.`]){name}(?![\w`])", body, _re.I)
            if split is None:
                body = subst(body, mapping)
                if self_ref:
                    # UNION ALL self-recursion: native single-CTE
                    # statement (the CTE name is scoped to it)
                    alias = f" ({', '.join(cols)})" if cols else ""
                    df = engine.sql(
                        f"WITH RECURSIVE {name}{alias} AS ({body}) "
                        f"SELECT * FROM {name}")
                else:
                    df = engine.sql(body)
                    if cols:
                        df = df.toDF(*cols)
            else:
                anchor_sql, step_sql = split
                anchor_sql = subst(anchor_sql, mapping)
                # the step's self-reference reads the frontier view,
                # registered under the internal name
                step_sql = subst(
                    step_sql, {**mapping, name.lower(): internal})
                # Doris NULLs integer-cast overflow (non-strict);
                # Spark WRAPS — divergent recursions (window-sum
                # doubling) reach the golden fixpoint through the NULL
                step_sql = _overflow_null_casts(step_sql)
                anchor = engine.sql(anchor_sql).distinct()
                if cols:
                    anchor = anchor.toDF(*cols)
                out_cols = anchor.columns

                def step(frontier, _v=internal, _sql=step_sql,
                         _cols=out_cols):
                    frontier.createOrReplaceTempView(_v)
                    return engine.sql(_sql).toDF(*_cols)

                # tiny-anchor recursions are stage-scheduling-bound:
                # size the per-iteration shuffles to the frontier
                parts = 1 if len(anchor.take(33)) <= 32 else None
                # Doris aborts past cte_max_recursion_depth
                # (SessionVariable.java:1197, default 100)
                df = recursive_union(
                    anchor, step, distinct=True, max_iterations=100,
                    shuffle_partitions=parts,
                    checkpoint_step=bool(mapping))
            df.localCheckpoint(eager=True).createOrReplaceTempView(
                internal)
            mapping[name.lower()] = internal
        return engine.sql(subst(outer, mapping))
    finally:
        for internal in mapping.values():
            spark.catalog.dropTempView(internal)
        for v in nested_views:
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass
