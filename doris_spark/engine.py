"""Engine — the user-facing facade (the Doris "connection").

A user of the reference talks to a FE over MySQL protocol: issues SQL,
creates tables with a keys model (KeysType.java:25), loads data, queries.
This class is that surface on Spark (SURVEY §7.0 design stance):

    eng = Engine()                      # or Engine(existing_spark)
    eng.register_parquet_dir(sf_dir)    # fixture tables as views
    eng.sql("SELECT years_add(o_orderdate, 1) ... ")   # full fn surface
    eng.create_table(df, "t", keys_type="UNIQUE_KEYS",
                     keys=["id"], sequence_col="ver")
    eng.table("t")                      # its merged snapshot

Everything heavy is delegated: SQL goes straight to Spark SQL (Catalyst
optimizes; the Doris-only function names are session-registered SQL/pandas
UDFs — functions/registry.py), table models are merged once at CREATE and
pinned as snapshots that every write replaces (operators/table_models.py),
layout goes through sources/layout.py.
"""

from __future__ import annotations

import operator
import re as _re
from collections.abc import Callable, Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doris_spark.plans.sqltok import (
    depth0_search,
    find_close,
    split_args_top,
    sub_outside_literals,
)

_UPDATE_HEAD_RE = _re.compile(r"^\s*UPDATE\s+`?(\w+)`?\s+SET\s+", _re.I | _re.S)
_DELETE_HEAD_RE = _re.compile(
    r"^\s*DELETE\s+FROM\s+`?(\w+)`?(?:\s+PARTITION\s*\([^)]*\))?\s*", _re.I | _re.S
)
# the first WHERE outside literals and parens ends a SET list / DELETE
# head (`SET note = 'call where needed'` holds one inside a literal)
_WHERE_RE = _re.compile(r"(?<![\w`])WHERE\b", _re.I)
# a statement spark.sql only plans: a query, with no command keyword at
# depth 0 (`WITH c AS (...) INSERT ...` and `FROM t INSERT ...` are commands)
_QUERY_HEAD_RE = _re.compile(r"\s*\(*\s*(?:SELECT|WITH|VALUES|FROM|TABLE)\b", _re.I)
_COMMAND_WORD_RE = _re.compile(
    r"(?<![\w`.])(?:INSERT|UPDATE|DELETE|MERGE|CREATE|DROP|ALTER|TRUNCATE)\b", _re.I
)


def _is_query(text: str) -> bool:
    return _QUERY_HEAD_RE.match(text) is not None and \
        depth0_search(text, _COMMAND_WORD_RE) is None


def _values_literal_df(spark, tuples, use_cols):
    """Literal-only VALUES tuples -> an all-STRING DataFrame built
    driver-side (the caller casts to the target schema). Returns None
    when any item is an expression — Spark's inline table rejects
    INCOMPATIBLE_TYPES when one column mixes NULL/string/number
    literals across rows, but Doris casts each item to the TARGET
    column type; a python parse sidesteps the analyzer entirely (800-
    row generated fixtures would also be slow as an 800-branch
    UNION)."""
    import re

    rows = []
    for t in tuples:
        items = split_args_top(t)
        if len(items) != len(use_cols):
            return None
        row = []
        for it in items:
            if re.fullmatch(r"(?i)null", it):
                row.append(None)
            elif len(it) >= 2 and it[0] == it[-1] == "'":
                row.append(
                    it[1:-1].replace("\\'", "'").replace("''", "'")
                    .replace('\\"', '"').replace("\\\\", "\\"))
            elif len(it) >= 2 and it[0] == it[-1] == '"':
                row.append(
                    it[1:-1].replace('\\"', '"').replace("\\'", "'")
                    .replace("\\\\", "\\"))
            elif re.fullmatch(r"[-+]?\d+(\.\d+)?([eE][-+]?\d+)?", it):
                row.append(it)
            elif re.fullmatch(r"(?i)true|false", it):
                row.append(it.lower())
            else:
                return None
        rows.append(row)
    if not rows:
        return None
    from pyspark.sql.types import StringType, StructField, StructType

    sch = StructType([StructField(c, StringType()) for c in use_cols])
    return spark.createDataFrame(rows, sch)


def _values_fallback_df(spark, body: str, use_cols):
    """Recover an un-analyzable VALUES body: literal tuples build a
    python-side DataFrame; otherwise each tuple becomes a SELECT branch
    (evaluates registered UDFs like to_bitmap)."""
    tuples = split_args_top(body)
    if not tuples or not all(t[:1] == "(" and t[-1:] == ")" for t in tuples):
        return None
    tuples = [t[1:-1] for t in tuples]
    df = _values_literal_df(spark, tuples, use_cols)
    if df is not None:
        return df
    return spark.sql(
        " UNION ALL ".join(f"SELECT {t}" for t in tuples)
    ).toDF(*use_cols)


from doris_spark.operators.table_models import (
    agg_key_view,
    merge_touched_keys,
    unique_key_view,
)
from doris_spark.session import get_spark, prepare_session, register_views


def _keys_view(meta: Mapping) -> Callable[[DataFrame], DataFrame] | None:
    """The merge function of a table's keys model (None for DUP_KEYS, whose
    rows are the table)."""
    kt = meta["keys_type"]
    if kt == "UNIQUE_KEYS":
        return lambda df: unique_key_view(
            df, meta["keys"], meta["sequence_col"], delete_col=meta["delete_col"])
    if kt == "AGG_KEYS":
        return lambda df: agg_key_view(
            df, meta["keys"], meta["agg_spec"], sequence_col=meta["sequence_col"])
    return None


def _counting(df: DataFrame, cond: str = "true") -> tuple[DataFrame, Observation]:
    """`df` plus a boolean `__hit` column (`cond`, NULL read as false) and an
    observation that counts the hits in whatever job later runs over it —
    read it with `obs.get["n"]` after that job. The condition is evaluated
    once per row, so the count and the rewrite that reads `__hit` agree."""
    obs = Observation()
    flagged = df.withColumn("__hit", F.coalesce(F.expr(cond), F.lit(False)))
    return flagged.observe(obs, F.count_if(F.col("__hit")).alias("n")), obs


def _driver_rows(df: DataFrame, cols: Sequence[Column]) -> list | None:
    """The rows of `df.select(*cols)` when `df`'s optimized plan is a
    LocalRelation (a foldable VALUES list): the driver already holds them,
    so the collect runs no Spark job. None for any other plan."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    return df.select(*cols).collect()


def _exact_key(col: str, dtype) -> Column | None:
    """`col` in a form whose collected Python value `_key_literal` turns
    back into the same key: TIMESTAMP as its unix micros (a Python datetime
    is read in the process's local zone, which can be ambiguous) and DATE as
    its day number (pyspark cannot send a date before year 1000 back), the
    column itself for types whose values round-trip. None for other types."""
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col(col))
    if isinstance(dtype, T.DateType):
        return F.unix_date(F.col(col))
    if isinstance(dtype, (T.NumericType, T.StringType, T.BooleanType)):
        return F.col(col)
    return None


def _key_literal(value, dtype) -> Column:
    if isinstance(dtype, T.TimestampType):
        return F.timestamp_micros(F.lit(value))
    if isinstance(dtype, T.DateType):
        return F.date_from_unix_date(F.lit(value))
    return F.lit(value).cast(dtype)


def _key_match(keys: Sequence[str], dtypes: Sequence, rows: Sequence[tuple]) -> Column:
    """Null-safe literal predicate over a table: its key equals one of
    `rows` (key tuples as `_exact_key` collects them). It is never NULL, so
    its negation keeps the rows it does not match."""
    rows = set(map(tuple, rows))
    if len(keys) == 1:
        k, vals = F.col(keys[0]), {r[0] for r in rows}
        lits = [_key_literal(v, dtypes[0]) for v in vals if v is not None]
        match = (k.isNotNull() & k.isin(*lits)) if lits else F.lit(False)
        return match | k.isNull() if None in vals else match
    return reduce(operator.or_, [
        reduce(operator.and_, [
            F.col(k).eqNullSafe(_key_literal(v, t)) for k, t, v in zip(keys, dtypes, r)])
        for r in rows
    ], F.lit(False))


class Engine:
    """Session facade: SQL entry point + table-model-aware catalog."""

    def __init__(self, spark: SparkSession | None = None, cpus: int | None = None):
        # The engine runs in the engine session of the given session: the
        # jar's rules and the Doris function surface, derived once per
        # session (prepare_session is idempotent, so repeated construction
        # does not re-pay the registration, ~9 s on a fresh JVM).
        self.spark = get_spark(cpus=cpus) if spark is None else prepare_session(spark)
        # table name -> its pinned snapshot (DUP tables map to their
        # DataFrame until the first write)
        self._views: dict[str, DataFrame] = {}
        # table name -> partition count of its pinned snapshot (UNIQUE and
        # AGG tables from CREATE on, DUP tables after a write; see _publish)
        self._parts: dict[str, int] = {}
        # one-row local relation the statement replies select from (_reply)
        self._unit = self.spark.sql("SELECT * FROM VALUES (0) AS __unit(x)")
        # table name -> keys-model metadata (for INSERT re-merge)
        self._meta: dict[str, dict] = {}
        # transparent MV rewrite catalog (plans/mv_rewrite.py)
        self._mvs: list = []
        self.last_mv_rewrite: str | None = None
        # JOB scheduler catalog (streaming/jobs.py; clock-free ticks)
        from doris_spark.streaming.jobs import JobScheduler

        self.jobs = JobScheduler(self)
        # table -> {constraint name -> (type, rendered spec)} (planner
        # metadata; SHOW CONSTRAINTS / ADD-DROP CONSTRAINT statements)
        self._constraints: dict[str, dict[str, tuple[str, str]]] = {}

    def _reply(self, column: str, value, dtype: str = "bigint") -> DataFrame:
        """One-row statement reply (the MySQL OK packet: affected rows, a
        status or a name) as a local relation. Collecting it runs no Spark
        job, where createDataFrame would parallelize an RDD and start one."""
        return self._unit.select(F.lit(value).cast(dtype).alias(column))

    def _publish(self, name: str, df: DataFrame) -> DataFrame:
        """Pin `df` as the new snapshot of table `name` (one statement = one
        visible transaction) and register it under that name. The pin breaks
        the self-referential lineage, so repeated writes don't stack plan
        depth."""
        snap = df.localCheckpoint(eager=True)
        snap.createOrReplaceTempView(name)
        self._views[name] = snap
        # The pinned LogicalRDD's own partitions: `snap.rdd` would plan a
        # Python-row conversion just to count them.
        self._parts[name] = snap._jdf.queryExecution().logical().rdd().getNumPartitions()
        return snap

    # ------------------------------------------------------------ queries

    def sql(self, text: str) -> DataFrame:
        """Run Doris SQL: the MySQL dialect layer (plans/dialect.py —
        %-format strings, 1-based subscripts, map/array literals,
        composite interval units, JSON-text casts) runs first, then the
        macro layer (plans/sql_macros.py — Doris-only aggregate
        spellings, lambda-first array calls, lc_time_names);
        tests/data/rewrite_corpus.jsonl pins the text both produce.
        Table-model views from create_table are visible as temp views.
        UPDATE/DELETE statements (Doris DML,
        fe/.../nereids/trees/plans/commands/UpdateCommand.java /
        DeleteFromCommand.java) execute as snapshot rewrites of the
        backing DataFrame — see _dml(). Queries run through _prepare."""
        ex = _re.match(r"^\s*EXPLAIN\b(\s+(?:VERBOSE|EXTENDED|FORMATTED|CODEGEN|COST))?\s+", text, _re.I)
        if ex is not None:
            # Doris EXPLAIN [VERBOSE] (StmtExecutor explain path): a
            # query goes through the same preparation as sql() (_prepare),
            # so EXPLAIN shows the plan that sql() would run — including a
            # transparent-MV scan when the rewrite fires. _prepare analyzes
            # with spark.sql, which RUNS a command, so an explained INSERT,
            # CTAS or DROP gets only the text layers.
            mode = (ex.group(1) or "").strip().upper()
            mode = {"VERBOSE": "EXTENDED"}.get(mode, mode)
            inner = text[ex.end():]
            if _is_query(inner):
                stmt, _ = self._prepare(inner)
            else:
                from doris_spark.plans.dialect import dialect
                from doris_spark.plans.sql_macros import rewrite

                stmt = rewrite(dialect(inner))
            return self.spark.sql(f"EXPLAIN {mode} {stmt}" if mode else f"EXPLAIN {stmt}")
        sv = _re.match(
            r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?`?time_zone`?\s*=\s*'?([^';]+)'?\s*;?\s*$",
            text, _re.I,
        )
        if sv is not None:
            # Doris SET time_zone (SessionVariable.java): maps onto
            # Spark's session zone, which drives every timestamp
            # render/parse. Other session variables flow through as
            # plain Spark SETs (lc_time_names is captured by the macro
            # layer; unknown keys are harmless conf entries).
            zone = sv.group(1).strip()
            self.spark.conf.set("spark.sql.session.timeZone", zone)
            return self._reply("time_zone", zone, "string")
        tr = _re.match(r"^\s*TRUNCATE\s+TABLE\s+`?(\w+)`?\s*;?\s*$", text, _re.I)
        if tr is not None:
            # Doris TRUNCATE TABLE: drop all rows, keep schema + keys model.
            name = tr.group(1)
            if name not in self._views:
                try:
                    if self.spark.catalog.tableExists(name):
                        # real catalog table: truncate in place — a temp-
                        # view shim would SHADOW it and break later
                        # INSERTs (insertInto into a view is unresolvable)
                        self.spark.sql(f"TRUNCATE TABLE {name}")
                        return self._reply("affected_rows", 0)
                except Exception:
                    pass
            self._publish(name, self.table(name).limit(0))
            return self._reply("affected_rows", 0)
        jm = _re.match(
            r"^\s*(CREATE\s+JOB|PAUSE\s+JOB|RESUME\s+JOB|DROP\s+JOB|SHOW\s+JOBS)\b\s*",
            text, _re.I,
        )
        if jm is not None:
            # Doris JOB scheduler statements (streaming/jobs.py). Ticks
            # are explicit: eng.jobs.run_due(now).
            verb = _re.sub(r"\s+", " ", jm.group(1).upper())
            if verb == "SHOW JOBS":
                return self.jobs.show()
            if verb == "CREATE JOB":
                job = self.jobs.create(text)
                return self._reply("created", job.name, "string")
            name = text[jm.end():].strip().rstrip(";").strip("`")
            {"PAUSE JOB": self.jobs.pause,
             "RESUME JOB": self.jobs.resume,
             "DROP JOB": self.jobs.drop}[verb](name)
            return self._reply("ok", name, "string")
        ctas = _re.match(
            r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s+AS\s+(SELECT\b.*|WITH\b.*)$",
            text, _re.I | _re.S,
        )
        if ctas is not None:
            # Doris CTAS (CreateTableAsSelectCommand): materialize the
            # query snapshot and register it as a DUP-keys table so
            # subsequent INSERT/UPDATE/DELETE statements work on it.
            src, obs = _counting(self.sql(ctas.group(2)))
            snap = src.drop("__hit").localCheckpoint(eager=True)
            self.create_table(snap, ctas.group(1))
            return self._reply("affected_rows", obs.get["n"])
        con = _re.match(
            r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+CONSTRAINT\s+"
            r"`?(\w+)`?\s+(PRIMARY\s+KEY|UNIQUE|FOREIGN\s+KEY)\s*"
            r"\(([^)]*)\)"
            r"(?:\s+REFERENCES\s+`?([\w.]+?)`?\s*\(([^)]*)\))?",
            text, _re.I,
        )
        if con is not None:
            # Doris table constraints are planner METADATA (FE
            # Constraint.java family — used by optimizer rules, never
            # enforced at write time); SHOW CONSTRAINTS renders them.
            t, cname = con.group(1).lower(), con.group(2)
            ctype = _re.sub(r"\s+", " ", con.group(3).upper())
            cols = ", ".join(
                c.strip().strip("`") for c in con.group(4).split(","))
            if ctype == "FOREIGN KEY":
                db = self.spark.catalog.currentDatabase()
                refcols = ", ".join(
                    c.strip().strip("`")
                    for c in (con.group(6) or "").split(","))
                spec = (f"FOREIGN KEY ({cols}) REFERENCES "
                        f"internal.{db}.{con.group(5)} ({refcols})")
            else:
                spec = f"{ctype} ({cols})"
            self._constraints.setdefault(t, {})[cname] = (ctype, spec)
            return self._reply("status", 0)
        dcon = _re.match(
            r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+CONSTRAINT\s+"
            r"`?(\w+)`?\s*;?\s*$",
            text, _re.I,
        )
        if dcon is not None:
            t, cname = dcon.group(1).lower(), dcon.group(2)
            entry = self._constraints.get(t, {}).pop(cname, None)
            if entry is not None and entry[0] in ("PRIMARY KEY", "UNIQUE"):
                # dropping a referenced key cascades to FKs pointing at
                # this table (pinned by constraint.groovy
                # drop_fk_cascades)
                for ot, cons in self._constraints.items():
                    for nm in [n for n, (ty, sp) in cons.items()
                               if ty == "FOREIGN KEY"
                               and _re.search(rf"\.{t}\s*\(", sp, _re.I)]:
                        cons.pop(nm)
            return self._reply("status", 0)
        shc = _re.match(
            r"^\s*SHOW\s+CONSTRAINTS\s+FROM\s+`?(\w+)`?\s*;?\s*$",
            text, _re.I,
        )
        if shc is not None:
            rows = [(n, ty, sp) for n, (ty, sp) in sorted(
                self._constraints.get(shc.group(1).lower(), {}).items())]
            return self.spark.createDataFrame(
                rows, "name string, type string, spec string")
        if _re.match(
            r"^\s*ALTER\s+TABLE\s+`?\w+`?\s+"
            r"(?:ADD|DROP|MODIFY|RENAME)\s+COLUMN\b",
            text, _re.I,
        ):
            # schema-change jobs (plans/schema_change.py): light
            # metadata-only ADD vs direct distributed-rewrite+swap
            from doris_spark.plans.schema_change import apply_schema_change

            sc = apply_schema_change(self, text)
            if sc is not None:
                return sc
        dml = self._dml(text)
        if dml is not None:
            return dml
        ins = self._insert(text)
        if ins is not None:
            return ins
        if _re.match(r"\s*WITH\s+RECURSIVE\b", text, _re.I):
            # plain-UNION (distinct) recursion: Spark's native UnionLoop
            # only takes UNION ALL — evaluate with the semi-naive driver
            # loop (plans/recursive_cte.py); UNION ALL falls through to
            # the native path
            from doris_spark.plans.recursive_cte import (
                try_recursive_union_sql,
            )

            rec = try_recursive_union_sql(self, text)
            if rec is not None:
                return rec
        return self._prepare(text)[1]

    def _prepare(self, text: str) -> tuple[str, DataFrame]:
        """Prepare one query the way sql() runs it: the constant fold,
        `* REPLACE`, the transparent-MV rewrite, `FROM dual`, the dialect
        and macro layers, typed arithmetic and the analysis retries. The
        one analysis applies the analyzer rules of doris_spark/jvm (Doris
        avg and date_add types). Returns the final Spark SQL text and its
        analyzed DataFrame; sql() and EXPLAIN both call this."""
        from doris_spark.plans.dialect import dialect
        from doris_spark.plans.sql_macros import rewrite

        if "cast" in text.lower():
            # decimal256 / integer-overflow constant casts: fold
            # driver-side at full precision (plans/const_cast_fold.py).
            # The fold emits typed literals, so native Spark result
            # types survive (cast('5' as int) stays INT); only values
            # Spark has no type for (decimal p>38, largeint beyond
            # int64) render as strings.
            from doris_spark.plans.const_cast_fold import (
                fold_const_dec256,
                fold_worthy,
            )

            if fold_worthy(text):
                strict = self.spark.conf.get(
                    "enable_strict_cast", "false").lower() == "true"
                folded = fold_const_dec256(text, strict)
                if folded is not None:
                    text = folded
        if _re.search(r"\*\s+REPLACE\s*\(", text, _re.I):
            # Doris SELECT * REPLACE (expr AS col, ...) [EXCEPT (cols)]
            # (nereids_syntax_p0/select_replace.groovy): expand the star
            # from the analyzed schema with the named columns replaced
            expanded = self._expand_star_replace(text)
            if expanded is not None:
                text = expanded
        self.last_mv_rewrite = None
        if self._mvs:
            from doris_spark.plans.mv_rewrite import try_rewrite

            hit = try_rewrite(text, self._mvs)
            if hit is not None:
                text, self.last_mv_rewrite = hit
        if _re.search(r"\bfrom\s+dual(?![\w.`])", text, _re.I):
            # MySQL `FROM dual` pseudo-table. The FE resolves the bare
            # spelling to the pseudo-table even when a real table named
            # dual exists; only the backquoted `dual` hits the table
            # (pinned by query_p0/dual/dual.groovy). Literal-aware so a
            # string containing ' from dual' is never corrupted.
            text = sub_outside_literals(
                r"\bFROM\s+dual(?![\w.`])",
                "FROM (SELECT 1 AS __dual) __dual_t",
                text,
                flags=_re.I,
            )
        stmt = rewrite(dialect(text), self.spark)
        # Doris binary-arithmetic coercion (plans/typed_arith.py):
        # packed-digit date arithmetic, fixed-point promotion, Doris
        # decimal precision/scale, BIGINT-folded bit ops / DIV. Pure
        # no-op unless DDL-time column-type hints resolve every leaf.
        from doris_spark.plans.typed_arith import arith_rewrite

        stmt = arith_rewrite(stmt)
        try:
            df = self.spark.sql(stmt)
        except Exception as e:
            # Spark forbids SQL temp functions in some plan positions
            # (Generate, sort of a sorted-limit subquery, ...):
            # UNSUPPORTED_SQL_UDF_USAGE. The registry functions are pure
            # SQL aliases, so inline the body at the call sites and
            # retry (pinned by nereids_syntax_p0/lateral_view
            # function_nested and nereids_arith_p0/topn_alltype).
            df = None
            msg = str(e)
            if ("UNRESOLVED_COLUMN" in msg or "MISSING_ATTRIBUTES" in msg
                    or "MISSING_AGGREGATION" in msg) and _re.search(
                r"(?i)\bgrouping\s+sets\b|\bwith\s+rollup\b|\bcube\s*\(",
                stmt,
            ):
                wrapped = _grouping_having_rewrite(stmt)
                if wrapped is not None:
                    try:
                        df, stmt = self.spark.sql(wrapped), wrapped
                    except Exception:
                        pass
            if df is None and "ASSIGNMENT_ARITY_MISMATCH" in msg and \
                    _re.search(
                r"\bAS\s*\(", stmt, _re.I
            ):
                # Doris CTE column-alias lists may name a PREFIX of the
                # subquery's columns (WITH c (skey, sname) AS (SELECT *
                # FROM supplier) keeps the remaining columns under their
                # own names — nereids_syntax_p0/cte.groovy cte_7..10);
                # Spark requires exact arity, so pad the list from the
                # analyzed schema.
                padded = _pad_cte_aliases(self.spark, stmt)
                if padded is not None and padded != stmt:
                    stmt = padded
                    try:
                        df = self.spark.sql(stmt)
                    except Exception as e3:
                        msg = str(e3)
            if df is None:
                for _ in range(5):
                    fm = _re.search(r"Using SQL function `(\w+)`", msg)
                    if fm is None:
                        raise
                    inlined = _inline_sql_function(stmt, fm.group(1))
                    if inlined is None or inlined == stmt:
                        raise
                    stmt = inlined
                    try:
                        df = self.spark.sql(stmt)
                        break
                    except Exception as e2:  # noqa: PERF203
                        msg = str(e2)
            if df is None:
                raise
        return stmt, df

    def _expand_star_replace(self, text: str):
        """Expand `* REPLACE (expr AS col, ...) [EXCEPT (cols)]` using
        the analyzed schema of the star-only statement. Returns the
        rewritten statement or None on any parse surprise."""
        import re

        m = re.search(r"\*\s+REPLACE\s*\(", text, re.I)
        if m is None:
            return None
        k = find_close(text, m.end() - 1) + 1
        if k > len(text):
            return None
        repl_items = split_args_top(text[m.end(): k - 1])
        repl: dict[str, str] = {}
        for it in repl_items:
            am = re.match(r"(?s)\s*(.*?)\s+AS\s+`?(\w+)`?\s*$", it, re.I)
            if am is None:
                return None
            repl[am.group(2).lower()] = am.group(1).strip()
        tail = text[k:]
        excl: set[str] = set()
        em = re.match(r"\s*EXCEPT\s*\(([^)]*)\)", tail, re.I)
        if em is not None:
            excl = {c.strip().strip("`").lower()
                    for c in em.group(1).split(",")}
            tail = tail[em.end():]
        star_start = text.rindex("*", 0, m.end())
        probe = text[: star_start + 1] + tail
        try:
            cols = self.sql(probe).columns
        except Exception:
            return None
        out_items = []
        for c in cols:
            lc = c.lower()
            if lc in excl:
                continue
            if lc in repl:
                out_items.append(f"{repl[lc]} AS `{c}`")
            else:
                out_items.append(f"`{c}`")
        return text[:star_start] + ", ".join(out_items) + tail

    def _dml(self, text: str) -> DataFrame | None:
        """UPDATE t SET c = e, ... [WHERE p] / DELETE FROM t WHERE p.

        Executed as a snapshot rewrite: the table's (merged) view is
        transformed and pinned with localCheckpoint, then re-registered —
        the same observable semantics as Doris's merge-on-write update
        (UpdateCommand plans an INSERT of the changed rows; here the
        whole snapshot is the transaction). On a view-backed table that is
        one Spark job: the predicate is evaluated once per row, and the
        rows it holds on (NULL counts as false) are counted by an
        observation in the pinning pass. At lakehouse scale the same
        statement maps to Delta/Iceberg MERGE INTO / DELETE FROM — this
        path is the engine-internal table implementation. Returns a
        1-row reply with the affected-row count (the MySQL-protocol OK
        packet's rows-matched; collecting it runs no job), or None if
        `text` is not DML."""
        import re

        from doris_spark.plans.dialect import dialect
        from doris_spark.plans.sql_macros import rewrite as _rw

        def rewrite(fragment: str) -> str:
            # DML predicates/assignments get the SAME dialect as queries
            # (1-based subscripts, MySQL %-formats, map/array literals) —
            # DELETE ... WHERE arr[1]='x' must test the element that
            # SELECT ... WHERE arr[1]='x' tests.
            return _rw(dialect(fragment))

        md = _DELETE_HEAD_RE.match(text)
        mu = None if md else _UPDATE_HEAD_RE.match(text)
        if md is None and mu is None:
            return None
        name = (md or mu).group(1)
        tail = text[(md or mu).end() :].rstrip().rstrip(";").rstrip()
        cur = self.table(name)

        def _partition_cols(tbl: str) -> list[str]:
            """Partition columns of a FILE-BACKED catalog table (empty
            for view-backed engine tables and unpartitioned tables)."""
            if tbl in self._views:
                return []
            try:
                if not self.spark.catalog.tableExists(tbl):
                    return []
                return [
                    c.name
                    for c in self.spark.catalog.listColumns(tbl)
                    if c.isPartition
                ]
            except Exception:
                return []

        def _pruned_rewrite(cond: str, transform) -> int | None:
            """Partition-pruned DML (the scale-safe shape the snapshot
            path below cannot give): compute the partitions containing
            matched rows from the predicate, transform ONLY those
            partitions' rows, and write them back with DYNAMIC partition
            overwrite — a single-partition UPDATE on a 100 TB table
            rewrites one partition's files, not the snapshot. Mirrors
            the Delta/Iceberg MERGE pruning the lakehouse mapping names.
            Returns the affected-row count, or None when the target
            isn't a partitioned catalog table (caller falls back)."""
            parts = _partition_cols(name)
            if not parts:
                return None
            matched = cur.filter(F.expr(cond))
            affected = matched.count()
            if affected == 0:
                return 0
            touched = matched.select(*parts).distinct().collect()
            pred = None
            for r in touched:
                one = F.lit(True)
                for p in parts:
                    one = one & F.col(p).eqNullSafe(F.lit(r[p]))
                pred = one if pred is None else (pred | one)
            slice_df = cur.filter(pred)
            # pin the transformed slice (bounded by the touched
            # partitions, not the table) — Spark refuses to overwrite a
            # path that is still being read from otherwise
            new_slice = (
                transform(_counting(slice_df, cond)[0])
                .select(*cur.columns)
                .localCheckpoint(eager=True)
            )
            # dynamic overwrite only replaces partitions PRESENT in the
            # written data — a DELETE that empties a partition must drop
            # it explicitly or its old files would survive
            kept = {
                tuple(r[p] for p in parts)
                for r in new_slice.select(*parts).distinct().collect()
            }
            emptied = [
                r for r in touched if tuple(r[p] for p in parts) not in kept
            ]
            conf = self.spark.conf
            prev = conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
            conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                new_slice.write.mode("overwrite").insertInto(name)
            finally:
                conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            for r in emptied:
                spec = ", ".join(
                    f"`{p}` = '{str(r[p])}'" if r[p] is not None else f"`{p}` = NULL"
                    for p in parts
                )
                self.spark.sql(
                    f"ALTER TABLE `{name}` DROP IF EXISTS PARTITION ({spec})"
                )
            self.spark.catalog.refreshTable(name)
            return affected

        def _file_pruned_rewrite(cond: str, transform) -> int | None:
            """File-pruned DML for UNPARTITIONED catalog tables (VERDICT
            r7 ask #6): prune to the FILES containing matched rows via
            the `_metadata.file_path` hidden column (sources/metascan.py
            machinery), rewrite only those rows, append the transformed
            slice and drop the superseded files — a selective UPDATE on
            a large unpartitioned table touches a strict subset of
            files instead of snapshotting the table. Returns None when
            the target is a temp-view table (snapshot path applies)."""
            if name in self._views:
                return None
            try:
                if not self.spark.catalog.tableExists(name):
                    return None
                base = self.spark.table(name)
                files = [
                    r[0]
                    for r in base.select(
                        F.col("_metadata.file_path").alias("__f")
                    )
                    .where(F.expr(cond))
                    .distinct()
                    .collect()
                ]
            except Exception:
                return None
            if not files:
                return 0
            import os
            from urllib.parse import unquote, urlparse

            paths = [unquote(urlparse(f).path) for f in files]
            # pre-flight: every superseded file (and its directory, for
            # the unlink) must be writable BEFORE we append the
            # rewritten slice — otherwise a failed removal after the
            # append would leave both copies of every touched row.
            # Non-local or non-removable storage takes the snapshot
            # fallback instead.
            if not all(
                os.path.isfile(p)
                and os.access(os.path.dirname(p), os.W_OK | os.X_OK)
                for p in paths
            ):
                return None
            slice_df = base.withColumn(
                "__f", F.col("_metadata.file_path")
            ).filter(F.col("__f").isin(files)).drop("__f")
            src, obs = _counting(slice_df, cond)
            new_slice = (
                transform(src)
                .select(*base.columns)
                .localCheckpoint(eager=True)
            )
            affected = obs.get["n"]
            new_slice.write.mode("append").insertInto(name)
            # the append committed: the superseded files MUST go, or the
            # table silently holds duplicate rows. Verify every unlink
            # (one retry for transient errors) and raise — not pass — if
            # any survive, so a failure is loud and names the files.
            failed: list[tuple[str, OSError]] = []
            for p in paths:
                try:
                    os.remove(p)
                except OSError as e:
                    failed.append((p, e))
            still = []
            for p, e in failed:
                try:
                    os.remove(p)
                except OSError:
                    if os.path.exists(p):
                        still.append((p, e))
            self.spark.catalog.refreshTable(name)
            if still:
                names = "; ".join(f"{p}: {e}" for p, e in still[:3])
                raise RuntimeError(
                    f"file-pruned DML on `{name}` appended the "
                    f"rewritten rows but could not remove "
                    f"{len(still)} superseded data file(s) ({names}) "
                    "— the table now contains duplicates of the "
                    "affected rows; remove the listed files manually"
                )
            return affected

        wm = depth0_search(tail, _WHERE_RE)
        head, where = (
            (tail[: wm.start()].rstrip(), tail[wm.end():].strip())
            if wm else (tail, None))
        if md is not None:
            if head.strip():
                return None  # unrecognized DELETE tail — not our DML shape
            if where is None:
                raise ValueError("DELETE requires a WHERE clause (Doris semantics)")
            cond = rewrite(where)

            def _del_transform(s):
                return s.filter(~F.col("__hit")).drop("__hit")

            pruned = _pruned_rewrite(cond, _del_transform)
            if pruned is None:
                pruned = _file_pruned_rewrite(cond, _del_transform)
            if pruned is not None:
                return self._reply("affected", pruned)
            transform = _del_transform
        else:
            assigns = {}
            for p in split_args_top(head):
                m = re.match(r"\s*`?(\w+)`?\s*=\s*(.*)$", p, re.S)
                if m is None:
                    raise ValueError(f"cannot parse SET assignment: {p!r}")
                assigns[m.group(1)] = rewrite(m.group(2).strip())
            unknown = set(assigns) - set(cur.columns)
            if unknown:
                raise ValueError(f"UPDATE of unknown column(s): {sorted(unknown)}")
            cond = rewrite(where) if where is not None else "true"

            def _upd_transform(s):
                return s.select(
                    *[
                        F.when(F.col("__hit"), F.expr(assigns[c]))
                        .otherwise(F.col(f"`{c}`"))
                        .cast(cur.schema[c].dataType)
                        .alias(c)
                        if c in assigns
                        else F.col(c)
                        for c in cur.columns
                    ]
                )

            # an UPDATE that rewrites a PARTITION column can move rows
            # into partitions the predicate never touched — dynamic
            # overwrite would drop those partitions' existing rows, so
            # only the snapshot path handles it
            if not (set(assigns) & set(_partition_cols(name))):
                pruned = _pruned_rewrite(cond, _upd_transform)
                if pruned is None:
                    pruned = _file_pruned_rewrite(cond, _upd_transform)
                if pruned is not None:
                    return self._reply("affected", pruned)
            transform = _upd_transform
            meta = self._meta.get(name)
            merge = _keys_view(meta) if meta else None
            if merge and set(assigns) & {*meta["keys"], meta["delete_col"]}:
                # an UPDATE of a key or delete column can collide or drop
                # keys: re-apply the keys model, so the snapshot stays one
                # merged row per key (the invariant merge_touched_keys
                # relies on)
                transform = lambda s: merge(_upd_transform(s))  # noqa: E731
        # one job: the rewrite is pinned, and the same pass counts the rows
        # the predicate holds on
        src, obs = _counting(cur, cond)
        self._publish(name, transform(src))
        return self._reply("affected", obs.get["n"])

    def table(self, name: str) -> DataFrame:
        """DataFrame handle honoring the table's keys model (UNIQUE/AGG
        tables resolve to their merged snapshot)."""
        if name in self._views:
            return self._views[name]
        return self.spark.table(name)

    # ------------------------------------------------------------ catalog

    def register_parquet_dir(self, sf_dir: str | None = None) -> dict[str, DataFrame]:
        """Register the fixture parquet tables as queryable views
        (OlapScan analog: predicate pushdown/column pruning at the scan)."""
        return register_views(self.spark, sf_dir)

    def _insert(self, text: str) -> DataFrame | None:
        """INSERT INTO t [(cols)] VALUES (...), ... | SELECT ...

        Doris InsertIntoTableCommand analog on the keys-model catalog:
        new rows are appended to the table snapshot and the keys model
        re-applies — UNIQUE tables upsert (latest sequence_col wins),
        AGG tables re-aggregate, DUP tables append. A UNIQUE or AGG merge
        re-merges only the stored rows whose keys the batch carries
        (table_models.merge_touched_keys), so its cost follows the batch,
        not the table. The new snapshot is pinned with localCheckpoint
        like the UPDATE/DELETE path (one statement = one visible
        transaction). A batch whose rows the driver holds (a foldable
        VALUES list) makes that pin the statement's one job: its keys
        match as literals and the touched rows merge in one partition. Any
        other batch (INSERT ... SELECT, VALUES the inline table rejects)
        is pinned first and counted in that job, and its keys are
        broadcast. Returns the 1-row affected-count reply (the MySQL
        OK packet). Tables created outside create_table (plain views) are
        not insert targets."""
        import re

        m = re.match(
            r"^\s*INSERT\s+INTO\s+`?(\w+)`?\s*(\(([^)]*)\))?\s*", text, re.I | re.S
        )
        if m is None:
            return None
        name = m.group(1)
        if name not in self._meta:
            try:
                exists = self.spark.catalog.tableExists(name)
            except Exception:
                exists = False
            if exists:
                # errors raised inside the complex-insert path (e.g. a
                # failed insertInto after from_json conversion) must
                # surface as themselves, not as the misleading
                # "not an insertable keys-model table" below
                handled = self._catalog_insert_complex(name, text, m)
                if handled is not None:
                    return handled
                # real catalog table: Spark SQL handles the INSERT
                return None
            raise ValueError(f"{name} is not an insertable keys-model table")
        cols = (
            [c.strip().strip("`") for c in m.group(3).split(",")]
            if m.group(3)
            else None
        )
        tail = text[m.end():].rstrip().rstrip(";")
        cur = self._views[name]
        target_cols = cur.columns
        use_cols = cols or target_cols

        from doris_spark.plans.dialect import dialect
        from doris_spark.plans.sql_macros import rewrite as _rw

        if re.match(r"^VALUES\b", tail, re.I):
            body = _rw(dialect(tail[len("VALUES"):]))
            try:
                new = self.spark.sql(
                    f"SELECT * FROM VALUES {body} "
                    f"AS __ins({', '.join(use_cols)})"
                )
            except Exception:
                # Spark inline tables reject non-foldable exprs
                # (to_bitmap) and mixed-type literal columns that Doris
                # casts per target column — recover python-side
                new = _values_fallback_df(self.spark, body, use_cols)
                if new is None:
                    raise
        elif re.match(r"^SELECT\b|^WITH\b", tail, re.I):
            new = self.spark.sql(_rw(dialect(tail)))
            if len(new.columns) != len(use_cols):
                raise ValueError(
                    f"INSERT column count mismatch: {len(new.columns)} vs {len(use_cols)}"
                )
            new = new.toDF(*use_cols)
        else:
            raise ValueError("INSERT tail must be VALUES or SELECT")

        # align to the full target schema: missing columns -> NULL, every
        # column cast to the target type (Doris's implicit insert casts)
        sch = {f.name: f.dataType for f in cur.schema.fields}
        aligned = new.select(
            *[
                (F.col(c) if c in new.columns else F.lit(None)).cast(sch[c]).alias(c)
                for c in target_cols
            ]
        )
        meta = self._meta[name]
        keys = meta["keys"]
        # A foldable VALUES list optimizes to a LocalRelation: the driver
        # already holds its rows, so the batch needs no pin, the affected
        # count is theirs, and the keys it touches become a literal
        # predicate. Any other batch is pinned below. (A DUP table has no
        # keys; a constant column still gives the row count.)
        exact = [_exact_key(k, sch[k]) for k in keys]
        rows = (_driver_rows(aligned, exact or [F.lit(0)])
                if all(e is not None for e in exact) else None)
        ai = meta.get("auto_increment")
        if ai:
            # Doris AUTO_INCREMENT (table-design/auto-increment.md):
            # NULL/omitted values get fresh ids above the current max.
            # The row_number window runs over the INSERT BATCH only (the
            # small side), never the stored table.
            from pyspark.sql import Window as _W

            start = cur.agg(F.max(ai)).first()[0] or 0
            w = _W.orderBy(F.monotonically_increasing_id())
            # driver rows: the window runs in the batch's one partition (no
            # exchange), in row order, so the ids are the ones computed here
            aligned = (aligned if rows is None else aligned.coalesce(1)).withColumn(
                ai,
                F.coalesce(
                    F.col(ai), (F.lit(start) + F.row_number().over(w)).cast(sch[ai])
                ),
            )
            if rows is not None and ai in keys:
                i = keys.index(ai)
                rows = [r[:i] + ((start + n + 1) if r[i] is None else r[i],) + r[i + 1:]
                        for n, r in enumerate(rows)]
        key_match = None
        if rows is not None:
            batch, affected = aligned, len(rows)
            if keys:
                key_match = _key_match(keys, [sch[k] for k in keys], rows)
        else:
            # pin the batch, counting it in the same job: the merge below
            # reads it twice (its keys and its rows), and both reads must
            # see the same rows even when the source is not deterministic
            src, obs = _counting(aligned)
            pinned = src.drop("__hit").localCheckpoint(eager=True)
            affected = obs.get["n"]
            # a relation built over the pinned rows, not the checkpoint
            # itself: the checkpoint keeps its source plan's constraints,
            # and when the batch was selected from this very table the
            # optimizer fails on them in the merge's union
            # (Union.rewriteConstraints: key not found)
            batch = DataFrame(
                self.spark._jsparkSession.createDataFrame(
                    pinned._jdf.rdd(), pinned._jdf.schema()),
                self.spark,
            )

        merge = _keys_view(meta)
        if merge is None:
            view = cur.unionByName(batch)
        else:
            view = merge_touched_keys(cur, batch, keys, merge, key_match)
            if name in self._parts:
                # the union adds the merged rows' partitions: fold them back
                # in, so reads over the snapshot keep its task count
                view = view.coalesce(max(1, self._parts[name]))
        self._publish(name, view)
        return self._reply("affected_rows", affected)

    def _catalog_insert_complex(self, name: str, text: str, m):
        """INSERT INTO <catalog table> VALUES with string literals bound
        for complex-typed (array/map/struct) columns: Doris parses the
        Doris/JSON text form ('[1, 2]', '{\"k\": 1}') per column; Spark's
        INSERT refuses the STRING->complex cast. Handles only the VALUES
        form on tables that HAVE complex columns — everything else
        returns None so plain Spark SQL takes it
        (query_p0/sql_functions/conditional_functions/
        test_coalesce.groovy map/array/struct fixtures)."""
        import re

        from pyspark.sql.types import ArrayType, MapType, StructType

        tail = text[m.end():].rstrip().rstrip(";")
        if not re.match(r"^VALUES\b", tail, re.I):
            return None
        cur = self.spark.table(name)
        has_complex = any(
            isinstance(f.dataType, (ArrayType, MapType, StructType))
            for f in cur.schema.fields
        )
        cols = (
            [c.strip().strip("`") for c in m.group(3).split(",")]
            if m.group(3) else None
        )
        use_cols = cols or cur.columns

        from doris_spark.plans.dialect import dialect
        from doris_spark.plans.sql_macros import rewrite as _rw

        body = _rw(dialect(tail[len("VALUES"):]))
        try:
            new = self.spark.sql(
                f"SELECT * FROM VALUES {body} "
                f"AS __ins({', '.join(use_cols)})"
            )
            if not has_complex:
                # analyzable and no complex targets: the native INSERT
                # path handles it (keeps existing behavior bit-for-bit)
                return None
        except Exception:
            # inline tables reject mixed-literal columns Doris casts per
            # TARGET column (800-row generated fixtures) — recover
            new = _values_fallback_df(self.spark, body, use_cols)
            if new is None:
                return None
        sch = {f.name: f.dataType for f in cur.schema.fields}
        src_t = {f.name: f.dataType for f in new.schema.fields}

        def conv(c):
            if c not in new.columns:
                return F.lit(None).cast(sch[c]).alias(c)
            t = sch[c]
            if isinstance(t, (ArrayType, MapType, StructType)) and str(
                src_t[c]
            ) == "StringType()":
                return F.from_json(F.col(c), t).alias(c)
            return F.col(c).cast(t).alias(c)

        aligned = new.select(*[conv(c) for c in cur.columns])
        n_new = aligned.count()
        aligned.coalesce(1).write.insertInto(name)
        return self._reply("affected_rows", n_new)

    def create_table(
        self,
        df: DataFrame,
        name: str,
        keys_type: str = "DUP_KEYS",
        keys: Sequence[str] = (),
        sequence_col: str | None = None,
        delete_col: str | None = None,
        agg_spec: Mapping[str, str] | None = None,
        auto_increment: str | None = None,
    ) -> DataFrame:
        """CREATE TABLE with a Doris keys model (KeysType.java:25-29).

        DUP_KEYS: the DataFrame as-is, registered as a plain view.
        UNIQUE_KEYS: the latest row per key (sequence_col orders versions;
        delete_col drops keys). AGG_KEYS: per-column pre-aggregation
        (agg_spec maps value column -> SUM/MIN/MAX/REPLACE/
        REPLACE_IF_NOT_NULL). A UNIQUE or AGG table is merged once at
        CREATE and the result pinned as its first snapshot (_publish, as
        every write pins its snapshot), so reads scan merged rows and no
        write pays the whole-table merge. The table is registered as a
        temp view under `name` so sql() sees merged semantics — exactly
        what a Doris reader gets."""
        kt = keys_type.upper()
        if kt == "UNIQUE_KEYS":
            if not keys or sequence_col is None:
                raise ValueError("UNIQUE_KEYS requires keys and sequence_col")
        elif kt == "AGG_KEYS":
            if not keys or not agg_spec:
                raise ValueError("AGG_KEYS requires keys and agg_spec")
        elif kt != "DUP_KEYS":
            raise ValueError(f"unknown keys_type {keys_type}")
        meta = {
            "keys_type": kt,
            "keys": list(keys),
            "sequence_col": sequence_col,
            "delete_col": delete_col,
            "agg_spec": dict(agg_spec) if agg_spec else None,
            "auto_increment": auto_increment,
        }
        self._meta[name] = meta
        merge = _keys_view(meta)
        if merge is not None:
            return self._publish(name, merge(df))
        df.createOrReplaceTempView(name)
        self._views[name] = df
        self._parts.pop(name, None)
        return df

    def register_mv(
        self,
        name: str,
        base_table: str,
        dims: Sequence[str],
        measures: Mapping[str, str],
        view: DataFrame | None = None,
        where: str | None = None,
    ) -> None:
        """Register `name` for TRANSPARENT rewrite (Nereids
        MaterializedViewProjectAggregateRule analog): aggregate queries
        over `base_table` whose group-by/filters use only `dims` and
        whose aggregates are derivable from `measures` (mv column ->
        "fn(expr)" partial spec) are redirected onto the MV by
        Engine.sql — the user keeps querying the base table. `view`
        (e.g. MaterializedView.read()) is registered under `name` if
        given; otherwise `name` must already resolve."""
        from doris_spark.plans.mv_rewrite import MVDef

        if view is not None:
            view.createOrReplaceTempView(name)
        self._mvs.append(MVDef.build(name, base_table, dims, dict(measures), where))

    def drop_table(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)
        self._views.pop(name, None)
        self._parts.pop(name, None)


def _inline_sql_function(stmt: str, fname: str) -> str | None:
    """Inline a registry SQL-alias function's body at every textual call
    site of `fname` in `stmt` (balanced-paren arg split, declared param
    types applied as CASTs, omitted trailing arguments taken from the
    parameters' DEFAULTs). Returns None when the function isn't a
    known SQL alias."""
    import re

    from doris_spark.functions.registry import SQL_FUNCTIONS

    spec = SQL_FUNCTIONS.get(fname.lower())
    if spec is None:
        return None
    params_src, body = spec
    params = []  # (name, type, default)
    for p in split_args_top(params_src):
        pm = re.fullmatch(r"(\w+)(?:\s+(.+?))?(?:\s+DEFAULT\s+(.+))?", p, re.I | re.S)
        if pm is None:
            return None
        params.append(pm.groups())
    if not params:
        return None
    required = sum(default is None for _, _, default in params)
    param_re = re.compile(
        rf"(?<![\w.$`])({'|'.join(re.escape(n) for n, _, _ in params)})(?![\w$`])"
    )

    token = re.compile(rf"(?<![\w.$]){re.escape(fname)}\s*\(", re.I)
    out, i = [], 0
    changed = False
    while True:
        m = token.search(stmt, i)
        if m is None:
            out.append(stmt[i:])
            break
        k = find_close(stmt, m.end() - 1) + 1
        args = split_args_top(stmt[m.end(): k - 1])
        if not required <= len(args) <= len(params):
            out.append(stmt[i:k])
            i = k
            continue
        values = {}
        for n, (pname, ptype, default) in enumerate(params):
            arg = args[n] if n < len(args) else default
            values[pname] = f"CAST(({arg}) AS {ptype})" if ptype else f"({arg})"
        # one pass, outside literals: an argument's text is never
        # substituted again
        expansion = sub_outside_literals(param_re, lambda pm: values[pm.group(1)], body)
        out.append(stmt[i: m.start()])
        out.append(f"({expansion})")
        i = k
        changed = True
    return "".join(out) if changed else None


def _pad_cte_aliases(spark, stmt: str) -> str | None:
    """Pad WITH-clause column-alias lists that name only a prefix of the
    subquery's output (Doris semantics) out to Spark's required full
    arity, using the analyzed schema. CTEs are processed left-to-right
    so later bodies can reference earlier (already-padded) CTEs."""
    import re

    head = re.compile(
        r"(\bWITH\b|,)\s*(`?\w+`?)\s*\(([^)]*)\)\s*AS\s*\(", re.I)
    out = stmt
    pos = 0
    prefix_ctes: list[str] = []
    changed = False
    for _ in range(32):
        m = head.search(out, pos)
        if m is None:
            break
        k = find_close(out, m.end() - 1) + 1
        body = out[m.end(): k - 1]
        aliases = [a.strip().strip("`") for a in m.group(3).split(",")
                   if a.strip()]
        probe = ("WITH " + ", ".join(prefix_ctes) + " " if prefix_ctes
                 else "") + f"SELECT * FROM ( {body} ) __cte_probe"
        try:
            cols = spark.sql(probe).columns
        except Exception:
            return None
        if len(aliases) < len(cols):
            taken = {a.lower() for a in aliases}
            extra = [c for c in cols[len(aliases):]]
            alias_full = aliases + [
                c if c.lower() not in taken else c + "__pad"
                for c in extra
            ]
            new_list = ", ".join(f"`{a}`" for a in alias_full)
            out = (out[: m.start(3)] + new_list
                   + out[m.end(3):])
            changed = True
            # re-locate the body end after the splice
            m = head.search(out, pos)
            k = find_close(out, m.end() - 1) + 1
            aliases = [a.strip().strip("`")
                       for a in m.group(3).split(",") if a.strip()]
            body = out[m.end(): k - 1]
        name = m.group(2).strip("`")
        alias_sql = f" ({', '.join(aliases)})" if aliases else ""
        prefix_ctes.append(f"{name}{alias_sql} AS ( {body} )")
        pos = k
    return out if changed else None


def _grouping_having_rewrite(stmt: str) -> str | None:
    """Spark's HAVING/ORDER BY resolution against GROUPING SETS / ROLLUP
    / CUBE expressions requires an exact pre-coercion tree match, which
    fails whenever an implicit cast is involved (bigint k1: `HAVING
    (k1+1) > 1` vs grouping expr `k1+1` — nereids_syntax_p0/
    grouping_sets.groovy). Rewrite into a wrapped form where every
    select item and grouping expression is aliased in the inner query
    and HAVING/ORDER BY reference the aliases:

        SELECT __c0.. FROM (SELECT item_i AS __c_i, gexpr_j AS __g_j
                            FROM .. GROUP BY ..) __gh
        WHERE having' ORDER BY order'
    """
    import re

    if re.search(r"(?i)\b(UNION|INTERSECT|EXCEPT)\b", stmt):
        return None
    m = re.match(r"(?is)\s*SELECT\s+(.*?)\s+FROM\s+(.*)$", stmt)
    if m is None:
        return None
    items_src, rest = m.group(1), m.group(2)
    distinct_kw = ""
    dm0 = re.match(r"(?is)\s*DISTINCT\s+", items_src)
    if dm0 is not None:
        # SELECT DISTINCT survives the wrap on the OUTER projection
        distinct_kw = "DISTINCT "
        items_src = items_src[dm0.end():]
    gm = re.search(r"(?is)\bGROUP\s+BY\b(.*)$", rest)
    if gm is None:
        return None
    from_src = rest[: gm.start()]
    tail = gm.group(1)
    hm = re.search(r"(?is)\bHAVING\b", tail)
    om = re.search(r"(?is)\bORDER\s+BY\b", tail)
    lm = re.search(r"(?is)\bLIMIT\b", tail)
    cut = min(x.start() for x in (hm, om, lm) if x is not None) if (
        hm or om or lm) else len(tail)
    group_src = tail[:cut].strip()
    having_src = order_src = limit_src = ""
    if hm is not None:
        hend = om.start() if om else (lm.start() if lm else len(tail))
        having_src = tail[hm.end(): hend].strip()
    if om is not None:
        oend = lm.start() if lm else len(tail)
        order_src = tail[om.end(): oend].strip()
    if lm is not None:
        limit_src = tail[lm.start():].strip()
    if not having_src and not order_src:
        return None

    # grouping expressions
    gexprs: list[str] = []
    gsm = re.search(r"(?is)\bGROUPING\s+SETS\s*\(", group_src)
    if gsm is not None:
        k = find_close(group_src, gsm.end() - 1)
        for part in split_args_top(group_src[gsm.end(): k]):
            part = part.strip()
            if part.startswith("(") and part.endswith(")"):
                part = part[1:-1]
            for e in split_args_top(part):
                if e.strip():
                    gexprs.append(e.strip())
    else:
        gb = re.sub(r"(?is)\bWITH\s+ROLLUP\b", "", group_src)
        cm = re.match(r"(?is)\s*(ROLLUP|CUBE)\s*\((.*)\)\s*$", gb)
        if cm is not None:
            gb = cm.group(2)
        gexprs = [e.strip() for e in split_args_top(gb) if e.strip()]

    def norm(e: str) -> str:
        return re.sub(r"\s+", "", e).lower().replace("`", "")

    items = [it.strip() for it in split_args_top(items_src)]
    inner_items = []
    subs: list[tuple[str, str]] = []  # (expr text, alias)
    for i, it in enumerate(items):
        am = re.match(r"(?is)^(.*?)\s+AS\s+`?(\w+)`?\s*$", it)
        expr = am.group(1).strip() if am else it
        alias = am.group(2) if am else f"__c{i}"
        inner_items.append(f"{expr} AS `{alias}`")
        subs.append((expr, alias))
    out_cols = [re.search(r"`(\w+)`\s*$", x).group(1)
                for x in inner_items]
    seen = {norm(e) for e, _ in subs}
    for j, g in enumerate(gexprs):
        if norm(g) not in seen:
            inner_items.append(f"{g} AS `__g{j}`")
            subs.append((g, f"__g{j}"))
            seen.add(norm(g))

    def substitute(text: str) -> str:
        for expr, alias in sorted(subs, key=lambda t: -len(t[0])):
            pat = re.escape(expr)
            pat = re.sub(r"\\\s+|\s+", r"\\s*", pat)
            text = re.sub(
                rf"(?is)(?<![\w`]){pat}(?![\w`])", f"`{alias}`", text)
            # parenthesized spelling of the same expression
            pat2 = r"\(\s*" + pat + r"\s*\)"
            text = re.sub(rf"(?is){pat2}", f"`{alias}`", text)
        return text

    inner = (f"SELECT {', '.join(inner_items)} FROM {from_src} "
             f"GROUP BY {group_src}")
    outer = (f"SELECT {distinct_kw}"
             f"{', '.join(f'`{c}`' for c in out_cols)} FROM ({inner}) __gh")
    if having_src:
        outer += f" WHERE {substitute(having_src)}"
    if order_src:
        outer += f" ORDER BY {substitute(order_src)}"
    if limit_src:
        outer += f" {limit_src}"
    return outer
