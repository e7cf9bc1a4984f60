"""Query registry: the engine's public correctness surface.

Each entry maps a name to a builder and, usually, an oracle_sql. Builders take
(spark, sf_dir) and return a DataFrame; oracle_sql is equivalent ANSI SQL for
DuckDB over the same parquet fixtures (driver contract in __spark_entry__.py).
Column names are aliased identically on both sides — the driver hashes values
after sorting columns by name.

A query can instead register one SQL text (`sql_query`): Engine.sql runs
it as the query, and DuckDB runs the same text as the oracle. When the text
calls Doris functions DuckDB lacks (IP, geo, JSON mutation, VARIANT), the
oracle is a second text that computes the same answer another way. A query
keeps a hand-built builder only when its text cannot run through Engine.sql
unchanged, disagrees with DuckDB, runs slower than the builder beyond
noise, exercises a statement that is not a SELECT, or is a builder the
benchmark times (CHANGES.md gives each kept builder's reason).

A query with oracle=None gets the driver's weaker rows-only check (used for
genuinely non-SQL-expressible ops, e.g. MinHash LSH dedup).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def stable_key(sf_dir: str) -> str:
    """Content-stable digest of a fixture dir for cached-artifact paths
    (persisted ANN / postings indexes, MV storage). Python's hash() is
    process-salted, so it forced every new process to rebuild; md5 of
    the path keeps warm runs warm across processes."""
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:16]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def year_between(col, lo: int, hi: Optional[int] = None):
    """Pushdown-friendly year predicate: `year(col) in [lo, hi]` expressed
    as a half-open timestamp range. Plain comparisons reach the parquet
    scan's PushedFilters (row-group/page min-max skipping — the lever at
    100 TB), where a `year(col) = Y` filter pushes nothing but IsNotNull
    (guide §6, verified in plans/r12). Exact for every non-null
    timestamp; NULLs fail both forms identically."""
    from pyspark.sql import functions as F

    hi = lo if hi is None else hi
    c = F.col(col) if isinstance(col, str) else col
    return (c >= F.lit(f"{lo}-01-01")) & (c < F.lit(f"{hi + 1}-01-01"))


def query(name: str, oracle: Optional[str] = None):
    """Decorator: register a query builder and its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def run_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """`text` through Engine.sql over the fixture tables of `sf_dir`.

    Only the fixture tables whose names occur in `text` as words are
    (re-)registered as temp views: each registration costs ~4 ms, and a
    word match can only register too many, never too few. A DataFrame
    already returned keeps the tables it was analyzed against."""
    from doris_spark.engine import Engine
    from doris_spark.session import load_tables

    for name, df in load_tables(spark, sf_dir).items():
        if re.search(rf"\b{name}\b", text):
            df.createOrReplaceTempView(name)
    return Engine(spark).sql(text)


def sql_query(name: str, text: str, oracle: Optional[str] = None) -> None:
    """Register one SQL text as the query (run_sql) and, unless `oracle`
    is given, as its oracle too."""
    QUERIES[name] = lambda spark, sf_dir: run_sql(spark, sf_dir, text)
    ORACLES[name] = text if oracle is None else oracle


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay a session's cold starts before anything is timed: one collect
    of tpch_q1 (JVM, parquet footers) and a pandas-UDF no-op (Python
    worker fork, Arrow serde), which would otherwise land on whichever
    query runs first. Needs `load_all()`."""
    from pyspark.sql import functions as F

    QUERIES["tpch_q1"](spark, sf_dir).collect()
    spark.range(32).select(F.pandas_udf(lambda s: s, "long")("id")).collect()


def load_all() -> None:
    """Import every query module (side effect: fills QUERIES/ORACLES)."""
    from doris_spark.queries import (  # noqa: F401
        advanced,
        analytics,
        clickbench,
        doris_fns,
        events,
        extras,
        ssb,
        text,
        tpcds_like,
        tpch,
        vector,
    )
