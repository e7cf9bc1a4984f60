"""Doris table models re-expressed as Spark merges, run once at CREATE.

Reference: fe/fe-core/src/main/java/org/apache/doris/catalog/KeysType.java:25
(DUP_KEYS / UNIQUE_KEYS / AGG_KEYS) and per-column aggregate types
fe/fe-catalog/.../catalog/AggregateType.java:29-38; merge-on-write delete
bitmaps be/src/storage/delete/delete_bitmap_calculator.h.

- DUP_KEYS: plain append table — the DataFrame itself.
- UNIQUE_KEYS: upsert semantics — keeps the row with the highest sequence
  value per key (Doris sequence column,
  be/src/load/.../partial_update_info.h). row_number window, one shuffle on
  the key; Catalyst may rewrite to InferWindowGroupLimit (partition top-1).
- AGG_KEYS: per-column pre-aggregation (SUM/MIN/MAX/REPLACE).

Engine.create_table merges a UNIQUE or AGG table once, at CREATE, and pins
the result as the table's first snapshot (merge-on-write: every read scans
merged rows). An INSERT then re-merges only the keys its batch carries
(merge_touched_keys): like a merge-on-write load, which writes the new rows
plus a delete bitmap for the keys they supersede, its cost follows the
batch, not the table.
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def unique_key_view(
    df: DataFrame,
    keys: Sequence[str],
    sequence_col: str,
    delete_col: str | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """UNIQUE_KEYS merge: latest row (max sequence_col, then
    `tiebreak` desc) per key; rows flagged in `delete_col` drop the key."""
    order = [F.col(sequence_col).desc()] + [F.col(t).desc() for t in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    if delete_col is not None:
        latest = latest.filter(~F.coalesce(F.col(delete_col), F.lit(False)))
    return latest


def agg_key_view(
    df: DataFrame,
    keys: Sequence[str],
    agg_spec: Mapping[str, str],
    sequence_col: str | None = None,
) -> DataFrame:
    """AGG_KEYS pre-aggregation. agg_spec maps value column → one of
    SUM / MIN / MAX / REPLACE / REPLACE_IF_NOT_NULL (AggregateType.java).
    REPLACE needs `sequence_col` to define arrival order deterministically.
    """
    aggs = []
    for col, how in agg_spec.items():
        how_u = how.upper()
        if how_u == "SUM":
            aggs.append(F.sum(col).alias(col))
        elif how_u == "MIN":
            aggs.append(F.min(col).alias(col))
        elif how_u == "MAX":
            aggs.append(F.max(col).alias(col))
        elif how_u in ("REPLACE", "REPLACE_IF_NOT_NULL"):
            if sequence_col is None:
                raise ValueError(f"{how_u} on {col} requires sequence_col")
            pair = F.struct(F.col(sequence_col), F.col(col))
            if how_u == "REPLACE_IF_NOT_NULL":
                pair = F.when(F.col(col).isNotNull(), pair)
            aggs.append(F.max(pair).getField(col).alias(col))
        else:
            raise ValueError(f"unsupported aggregate type {how}")
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_touched_keys(
    cur: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    view: Callable[[DataFrame], DataFrame],
    key_match: Column | None = None,
) -> DataFrame:
    """`view(cur ∪ batch)` for a `cur` that is already `view`'s output (at
    most one merged row per key), re-merging only the keys `batch` touches:

        view(cur ∪ batch) = (cur ⋉̸ K) ∪ view((cur ⋉ K) ∪ batch),  K = keys of batch

    Rows whose key the batch does not carry pass through unchanged. Keys match
    null-safely, because the window and groupBy of the views put NULL keys in
    one group. By default K (the batch's key columns) is broadcast, so the
    stored side is never shuffled; only the touched rows and the batch are
    merged.

    `key_match`, when given, is K as a predicate over `cur`: true exactly on
    the rows whose key the batch carries, and never NULL (the caller builds
    it from key values it already holds). The stored side is then split by a
    filter instead of a join, and the touched rows plus the batch, which the
    caller bounds, are merged in one partition, so the merge adds no
    exchange."""
    if key_match is None:
        bk = [f"__bk{i}" for i in range(len(keys))]
        touched_keys = F.broadcast(batch.select(*[F.col(k).alias(b) for k, b in zip(keys, bk)]))
        on = reduce(operator.and_, [F.col(k).eqNullSafe(F.col(b)) for k, b in zip(keys, bk)])
        kept = cur.join(touched_keys, on, "left_anti")
        merged = view(cur.join(touched_keys, on, "left_semi").unionByName(batch))
    else:
        kept = cur.filter(~key_match)
        merged = view(cur.filter(key_match).unionByName(batch).coalesce(1))
    return kept.unionByName(merged)


def partial_update(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Doris partial column update on a UNIQUE_KEYS table
    (be/src/olap/partial_update_info.h; enable_unique_key_partial_update):
    `updates` carries the key columns plus any SUBSET of value columns.

    - keys present in base: supplied columns take the update's value
      (including an explicit NULL — this is overwrite, not
      REPLACE_IF_NOT_NULL); unsupplied columns keep their base values.
    - keys only in updates: become new rows; unsupplied columns are NULL
      (the reference fills column defaults; NULL is Spark's default
      default).

    One shuffle on the key for each side (a broadcast of `updates` when
    small is chosen by AQE automatically — the common case, since partial
    updates are incremental batches)."""
    upd_value_cols = [c for c in updates.columns if c not in keys]
    unknown = [c for c in updates.columns if c not in base.columns]
    if unknown:
        raise ValueError(f"update columns not in table schema: {unknown}")
    u = updates.withColumn("__in_u", F.lit(True)).alias("u")
    b = base.alias("b")
    cond = None
    for k in keys:
        c = F.col(f"b.{k}").eqNullSafe(F.col(f"u.{k}"))
        cond = c if cond is None else cond & c
    joined = b.join(u, cond, "full_outer")
    out = []
    for k in keys:
        out.append(F.coalesce(F.col(f"b.{k}"), F.col(f"u.{k}")).alias(k))
    for c in base.columns:
        if c in keys:
            continue
        if c in upd_value_cols:
            out.append(
                F.when(F.coalesce(F.col("u.__in_u"), F.lit(False)), F.col(f"u.{c}"))
                .otherwise(F.col(f"b.{c}"))
                .alias(c)
            )
        else:
            out.append(F.col(f"b.{c}").alias(c))
    return joined.select(*out)
