"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship query (TPC-H Q1) on sf0.001.
queries()       — every implemented query/operator (doris_spark.queries registry).
oracle_sql()    — matching DuckDB SQL per query (driver's t2 correctness gate).

The caller's session enters the engine through `prepare_session`, which
returns the engine session derived from it: each query runs there, with
the engine's rules, and the caller's session is left as it was.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from doris_spark import queries as _q  # noqa: E402
from doris_spark.session import prepare_session  # noqa: E402

_q.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark = prepare_session(spark)
    return _q.QUERIES["tpch_q1"](spark, "/root/testdata/sf0.001")


def _in_engine_session(fn: Callable[[SparkSession, str], DataFrame]):
    return lambda spark, sf_dir: fn(prepare_session(spark), sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _in_engine_session(fn) for name, fn in _q.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(_q.ORACLES)
