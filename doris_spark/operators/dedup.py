"""Deduplication operators for large-scale corpus cleaning.

These are the LLM-training-pipeline extensions (BASELINE.json north star):
exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard. All are
pure DataFrame compositions — no driver-side collect, no UDF in the hot
path — so they scale linearly with executors:

- exact_dedup: one shuffle on the content hash.
- minhash_lsh_pairs: explode shingles (map-side), one groupBy per doc for
  signatures, one groupBy on (band, band_key) collecting each bucket's
  doc ids, then in-bucket combinations — the classic O(n·bands) LSH
  plan; the quadratic blow-up is confined to same-bucket candidates.

Hash choice: md5 (hex string). Deliberately engine-portable — the DuckDB
oracle computes identical signatures, so correctness is hash-checked, not
just row-counted. (Production would swap in xxhash64 for speed; the plan
shape is identical.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------- exact


def normalized_text(col):
    """Doris-style simple normalization: trim + lower + collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates (normalized md5): canonical id = min id.

    Returns (content_hash, canonical_id, dup_count) for groups with >1 doc.
    """
    return (
        df.select(
            F.md5(normalized_text(F.col(text_col))).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per normalized-content group."""
    h = F.md5(normalized_text(F.col(text_col)))
    from pyspark.sql import Window

    w = Window.partitionBy(h).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# ----------------------------------------------------------------- shingles


def token_shingles(text_col, n: int = 3):
    """Array of n-token shingles (space-joined), from whitespace tokens.

    Short documents (< n tokens) yield an empty array.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(normalized_text(c), " ")
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


# -------------------------------------------------------------- minhash LSH


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """(id, sig_0..sig_{H-1}): per-doc MinHash signature.

    Hash family h_i(s) = md5(i || ':' || s); min under lexicographic order.
    A min-of-md5-hex is a valid MinHash (any total order works) and is
    reproducible in the DuckDB oracle.
    """
    from doris_spark.session import ensure_parallelism

    exploded = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(token_shingles(text_col, shingle_n))).alias("shingle"),
    )
    # Hash family h_i = 8-hex-char slice i%4 of md5((i//4) || ':' || s):
    # one md5 evaluation covers four 32-bit hash functions — 4× fewer
    # digest computations than md5-per-hash, same min-order semantics.
    n_digests = (num_hashes + 3) // 4
    digests = [
        F.md5(F.concat(F.lit(f"{d}:"), F.col("shingle"))) for d in range(n_digests)
    ]
    aggs = [
        F.min(F.substring(digests[i // 4], 1 + 8 * (i % 4), 8)).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    dedup: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a < doc_b) via banded LSH.

    Signature is split into `bands` bands of num_hashes/bands rows; docs
    sharing any full band collide. Distinct pairs are returned.

    Pair generation is ONE aggregation on (band, key) — collect the
    bucket's (unique) doc ids sorted, emit in-bucket i<j combinations
    with an array expression — instead of a bucket self-join. Identical
    pair set (same bucket membership, same a<b orientation, distinct
    over cross-band repeats); the self-join needed the bucket table
    persisted (it fed both sides) plus two join-side exchanges, where
    this is a single shuffle and no cache. Per-bucket state is bounded
    by bucket size — the same quadratic blow-up the self-join confines
    to same-bucket candidates, held as one array per group.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_cols = []
    for b in range(bands):
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]
                ).alias("key"),
            )
        )
    buckets = sigs.select(
        F.col("doc"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    grouped = (
        buckets.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    out = grouped.select(F.explode(pair_arr).alias("p")).select(
        "p.doc_a", "p.doc_b"
    )
    # dedup=False skips the cross-band distinct (an extra exchange+agg):
    # consumers that are duplicate-insensitive — connected components,
    # any min/max/exists per pair — get the same answer from the raw
    # multi-band emission (r12).
    return out.distinct() if dedup else out


# ------------------------------------------------------------------ simhash


_SIMHASH_BITS = 60


def shingle_hashes60(text_col, shingle_n: int = 2):
    """array<bigint>: 60-bit fingerprint per distinct token shingle
    (conv of the first 15 md5 hex chars — stays in signed-64 range)."""
    shingles = F.array_distinct(token_shingles(text_col, shingle_n))
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
    )


def simhash_from_hashes(hashes_col):
    """SimHash bigint from an array<bigint> of shingle fingerprints.

    Single traversal: one F.aggregate carries a 60-wide vote vector
    (zip_with against a constant mask array), then sign → bit. The naive
    formulation (one F.aggregate per bit) embeds the hash-array
    subexpression 60×, which Catalyst re-evaluates — O(60×) the md5 work.
    """
    masks = F.array(*[F.lit(1 << b) for b in range(_SIMHASH_BITS)])
    zero_votes = F.array(*[F.lit(0) for _ in range(_SIMHASH_BITS)])
    votes = F.aggregate(
        hashes_col,
        zero_votes,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != F.lit(0), F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash64(text_col, shingle_n: int = 2):
    """64-bit-style SimHash (60 effective bits) over token shingles, as a
    bigint column expression. Reference analog: SimHash near-dup for corpus
    cleaning; pure higher-order-function expression (no UDF)."""
    return simhash_from_hashes(shingle_hashes60(text_col, shingle_n))


# ------------------------------------------------- duplicate clustering


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list by min-label
    propagation: every node's label converges to the smallest node id in
    its component. Returns (id, component).

    The dedup use (reference: the segment-compaction dedup path around
    be/src/olap/merger.* keeps one row per key; here we keep one doc per
    near-dup cluster) has tiny cluster diameters — candidate pairs come
    from LSH buckets — so plain propagation converges in a few rounds.
    Labels are localCheckpoint'ed per round to truncate lineage (the
    recursive-CTE lesson: checkpoint the accumulator, never unroll).
    For adversarial diameters at 100 TB swap in large-star/small-star
    (alternating min-propagation that halves diameter per round) — same
    loop skeleton, different neighbor expansion.

    r12 loop-plan surgery (same treatment as rec_cte_bfs, measured on
    the corpus pipeline: 6 jobs/round -> 1, sym materialization 5 -> 2):
    - Checkpoint the EDGE LIST, not the symmetrized union: the union's
      two sides each embedded the full candidate-pair pipeline, so the
      old eager sym checkpoint ran it twice; sym is now a cheap lazy
      projection-union over the checkpointed edges.
    - The loop state (edges + labels) is a vanishing fraction of the
      corpus — candidate pairs, not documents — so the loop runs under
      SCOPED static confs: AQE off (each AQE stage materialization is a
      whole job; a 2-round loop paid ~12) and shuffle partitions sized
      from the measured edge count (SPARK_GRAFT_CC_LOOP_ROWS per
      partition, default 2M — scale-adaptive, not a local[32] constant);
      broadcast off so no per-round build job. Confs are restored in a
      finally block."""
    import os

    spark = edges.sparkSession
    edge_ck = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    sym = edge_ck.union(edge_ck.select(F.col("v").alias("u"), F.col("u").alias("v")))
    rows_per_part = int(os.environ.get("SPARK_GRAFT_CC_LOOP_ROWS", str(2_000_000)))
    n_edges = edge_ck.count()
    loop_parts = max(1, (2 * n_edges + rows_per_part - 1) // rows_per_part)
    scoped = {
        "spark.sql.shuffle.partitions": str(loop_parts),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        return _cc_loop(sym, max_iter)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _cc_loop(sym: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation loop body; every round is fully materialized
    (localCheckpoint + count) inside the caller's scoped-conf window."""
    # Fused round 1: from identity labels, one propagation round yields
    # label(u) = min(u, min neighbor) — compute that directly as the
    # initial state instead of starting from label=id and paying a full
    # join round to reach it. (sym is symmetric, so groupBy(u) sees every
    # neighbor.) Lazy checkpoint: the first action below materializes it.
    labels = (
        sym.groupBy(F.col("u").alias("id"))
        .agg(F.min("v").alias("__mn"))
        .select("id", F.least(F.col("id"), F.col("__mn")).alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neigh = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.id"))
            .groupBy(F.col("e.u").alias("id"))
            .agg(F.min("l.label").alias("nlabel"))
        )
        # Min-propagation only ever lowers a label, so "changed" is just
        # new < old — computed inline, no extra join-and-count job.
        lowered = F.least(
            F.col("l.label"), F.coalesce(F.col("n.nlabel"), F.col("l.label"))
        )
        # Lazy checkpoint + the convergence count in ONE job: the agg
        # below materializes the checkpointed partitions as it counts
        # (was an eager-checkpoint job followed by a separate count job).
        new = (
            labels.alias("l")
            .join(neigh.alias("n"), "id", "left")
            .select(
                F.col("id"),
                lowered.alias("label"),
                (lowered < F.col("l.label")).cast("int").alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.agg(F.sum("chg")).first()[0]
        labels = new.drop("chg")
        if not changed:
            break
    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Cluster near-duplicate candidate pairs into components and pick
    the canonical (smallest-id) doc per cluster. Returns every clustered
    doc with (id, component, keep); docs in no pair are implicitly
    canonical and not emitted (at scale: anti-join them back untouched,
    which never shuffles the full corpus through the CC loop)."""
    cc = connected_components(pairs, src, dst)
    return cc.select(
        F.col("id").alias(id_col),
        "component",
        (F.col("id") == F.col("component")).cast("int").alias("keep"),
    )
