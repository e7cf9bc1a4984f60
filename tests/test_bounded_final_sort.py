"""The bounded-final-sort rule (doris_spark/jvm) in a `get_spark` session.

A root ORDER BY whose input the runtime row counts of materialized query
stages bound to at most `MAX_ROWS` rows is finished in one sorted
partition: the final adaptive plan has no range exchange, so no sampling
job runs. Over the threshold, or below a node the bound cannot cap, the
range exchange stays. Every case must return its rows in order.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from doris_spark import jvm
from doris_spark.jvm.build import SRC, build

MAX_ROWS = int(
    re.search(
        r"MAX_ROWS = ([\d_]+)L;",
        open(os.path.join(SRC, "dorisspark", "BoundedFinalSort.java")).read(),
    ).group(1)
)


def _run(df):
    """Collect df; return (rows, whether its final plan range-partitions)."""
    rows = df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    return rows, "rangepartitioning" in final


def _keys(rows, col):
    return [r[col] for r in rows]


def test_bounded_aggregate_sorts_in_one_partition(spark):
    df = (
        spark.range(0, 10_000, 1, 4)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .orderBy(F.desc("k"))
    )
    rows, ranged = _run(df)
    assert _keys(rows, "k") == [6, 5, 4, 3, 2, 1, 0]
    assert not ranged


@pytest.mark.parametrize("n, ranged", [(MAX_ROWS, False), (MAX_ROWS + 1, True)])
def test_threshold(spark, n, ranged):
    # Each key is its own group, so the aggregate's exchange writes n rows.
    df = (
        spark.range(0, n, 1, 4)
        .groupBy((F.col("id") + 1).alias("k"))
        .count()
        .orderBy(F.desc("k"))
    )
    rows, got = _run(df)
    assert got is ranged
    assert _keys(rows, "k") == list(range(n, 0, -1))


def test_generate_keeps_range_sort(spark):
    df = (
        spark.range(0, 1_000, 1, 4)
        .groupBy((F.col("id") % 5).alias("k"))
        .count()
        .select("k", F.explode(F.array(F.lit(2), F.lit(1))).alias("e"))
        .orderBy("k", "e")
    )
    rows, ranged = _run(df)
    assert [(r.k, r.e) for r in rows] == [(k, e) for k in range(5) for e in (1, 2)]
    assert ranged


def test_checkpoint_leaf_keeps_range_sort(spark):
    # The checkpoint streams into the join, so no stage counts its rows.
    ckpt = spark.range(0, 50, 1, 4).localCheckpoint()
    agg = spark.range(0, 1_000, 1, 4).groupBy((F.col("id") % 5).alias("k")).count()
    df = ckpt.join(F.broadcast(agg), ckpt.id == agg.k).orderBy(F.desc("id"))
    rows, ranged = _run(df)
    assert _keys(rows, "id") == [4, 3, 2, 1, 0]
    assert ranged


def test_jar_rebuilds_byte_for_byte(tmp_path):
    out = build(str(tmp_path / "rebuilt.jar"))
    with open(out, "rb") as got, open(jvm.JAR, "rb") as committed:
        assert got.read() == committed.read()
