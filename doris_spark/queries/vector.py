"""Vector similarity-search queries over the embeddings table.

Reference analogs: exact distance functions
(be/src/exprs/function/array/function_array_distance.h), ANN top-n pattern
`ORDER BY distance(col, const) LIMIT k` with planner pushdown
(nereids/rules/rewrite/PushDownVectorTopNIntoOlapScan.java,
be/src/storage/index/ann/faiss_ann_index.h), regression suites
regression-test/suites/ann_index_p0/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doris_spark.operators import vector as V
from doris_spark.queries import query, stable_key
from doris_spark.session import load_tables

# DuckDB-side: cast float list to double list (mirrors the Spark-side
# elementwise cast in operators/vector.py).
_DVEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    return emb.filter(F.col("vec_id") == 0)


@query(
    "vec_knn_cosine",
    oracle=f"""
WITH q AS (SELECT {_DVEC} AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       list_inner_product({_DVEC}, qv)
         / (sqrt(list_inner_product({_DVEC}, {_DVEC})) * sqrt(list_inner_product(qv, qv))) AS score
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id
LIMIT 10
""",
)
def vec_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 (brute force scan + TakeOrderedAndProject)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return V.knn(
        emb.filter(F.col("vec_id") != 0),
        _query_vec(spark, sf_dir),
        "embedding",
        "vec_id",
        k=10,
        metric="cosine",
    )


@query(
    "vec_knn_l2",
    oracle=f"""
WITH q AS (SELECT {_DVEC} AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       sqrt(list_sum(list_transform(list_zip({_DVEC}, qv),
            p -> (p[1] - p[2]) * (p[1] - p[2])))) AS score
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY score ASC, vec_id
LIMIT 10
""",
)
def vec_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L2 top-10 nearest."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return V.knn(
        emb.filter(F.col("vec_id") != 0),
        _query_vec(spark, sf_dir),
        "embedding",
        "vec_id",
        k=10,
        metric="l2",
    )


@query(
    "vec_knn_ip",
    oracle=f"""
WITH q AS (SELECT {_DVEC} AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, list_inner_product({_DVEC}, qv) AS score
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id
LIMIT 10
""",
)
def vec_knn_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-product top-10."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return V.knn(
        emb.filter(F.col("vec_id") != 0),
        _query_vec(spark, sf_dir),
        "embedding",
        "vec_id",
        k=10,
        metric="ip",
    )


@query(
    "vec_array_stats",
    oracle=f"""
SELECT vec_id,
       len(embedding) AS dims,
       list_sum({_DVEC}) AS vsum,
       list_sum({_DVEC}) / len(embedding) AS vavg,
       CAST(list_min(embedding) AS DOUBLE) AS vmin,
       CAST(list_max(embedding) AS DOUBLE) AS vmax,
       sqrt(list_inner_product({_DVEC}, {_DVEC})) AS l2norm
FROM embeddings
WHERE vec_id < 100
ORDER BY vec_id
""",
)
def vec_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function family over the embedding column (array_sum/avg/
    min/max + norm — Doris array function tier §2.8)."""
    emb = load_tables(spark, sf_dir)["embeddings"].filter(F.col("vec_id") < 100)
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vsum = F.aggregate(dvec, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dims"),
        vsum.alias("vsum"),
        (vsum / F.size("embedding")).alias("vavg"),
        F.array_min("embedding").cast("double").alias("vmin"),
        F.array_max("embedding").cast("double").alias("vmax"),
        F.sqrt(V.dot("embedding", "embedding")).alias("l2norm"),
    ).orderBy("vec_id")


@query(
    "vec_centroids",
    oracle=f"""
SELECT label, i - 1 AS dim, round(avg(v), 8) AS centroid_v
FROM (
  SELECT label, unnest({_DVEC}) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
) x
WHERE i <= 8
GROUP BY label, i
ORDER BY label, dim
""",
)
def vec_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (first 8 dims): posexplode + groupBy(label, dim).
    Rounded to 8 decimals — cross-row float summation order differs between
    engines. At 100TB this is the classic partial-agg shuffle (rows explode
    ×dims but partial sums collapse per partition before shuffling)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return (
        emb.select("label", F.posexplode(F.col("embedding")).alias("dim", "v"))
        .filter(F.col("dim") < 8)
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 8).alias("centroid_v"))
        .orderBy("label", "dim")
    )


@query(
    "vec_label_sim",
    oracle=f"""
WITH d AS (
  SELECT vec_id, label, {_DVEC} AS dv FROM embeddings
), u AS (
  SELECT vec_id, label,
         list_transform(dv, x -> x / sqrt(list_inner_product(dv, dv))) AS uv
  FROM d
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_inner_product(a.uv, b.uv) AS sim
  FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 10) AS sim
FROM pairs
WHERE round(sim, 10) > 0.35
ORDER BY id_a, id_b
""",
)
def vec_label_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate detection within label groups: cosine > 0.35
    pairs. Vectors are L2-normalized ONCE per row (persisted) before the
    self-join, so each candidate pair costs a single dot product instead of
    three — the same normalize-then-join shape an LSH/IVF pipeline uses at
    scale (operators/vector.lsh_bucketed_knn). The label equi-join keys the
    self-join so the quadratic blow-up is per-group, not global."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # Stage the norm as a named column: referenced inside the transform
    # lambda as a plain column it is computed once per ROW, where the
    # inline fold expression was re-evaluated per ELEMENT (64x). The dot
    # stays the single-pass zip_with fold — the 64-term unrolled
    # GetArrayItem sum measured ~1.7x SLOWER here (128 per-element
    # null-checked extractions vs one array traversal).
    unit = (
        emb.select("vec_id", "label", dv.alias("dv"))
        .withColumn("nrm", F.sqrt(V.dot("dv", "dv")))
        .select(
            "vec_id",
            "label",
            F.transform(F.col("dv"), lambda x: x / F.col("nrm")).alias("uv"),
        )
        .persist()
    )
    a = unit.select("label", F.col("vec_id").alias("id_a"), F.col("uv").alias("ua"))
    b = unit.select(
        F.col("label").alias("label_b"), F.col("vec_id").alias("id_b"), F.col("uv").alias("ub")
    )
    pairs = a.join(
        b, (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b"))
    )
    sim = V.dot("ua", "ub")
    # Materialize the raw sims before the rounded filter: filter+project
    # otherwise each recompute the 64-term dot per pair.
    sims = pairs.select("id_a", "id_b", sim.alias("raw_sim")).persist()
    return (
        sims.select("id_a", "id_b", F.round(F.col("raw_sim"), 10).alias("sim"))
        .filter(F.col("sim") > 0.35)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# LSH-bucketed approximate KNN (the 100TB similarity-search path):
# random-hyperplane signatures partition the corpus; the query probes only
# its own bucket. Oracle recomputes identical signatures in DuckDB from the
# same deterministic hyperplanes (literals generated from seed 42).
# --------------------------------------------------------------------------
def _rhp_oracle(dim: int = 64, n_planes: int = 6, seed: int = 42) -> str:
    from doris_spark.operators.vector import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    plane_sql = [
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
    ]
    sig_terms = " + ".join(
        f"(CASE WHEN list_inner_product(dv, {plane_sql[i]}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
WITH d AS (
  SELECT vec_id, {_DVEC} AS dv FROM embeddings
), s AS (
  SELECT vec_id, dv, {sig_terms} AS sig FROM d
), q AS (
  SELECT dv AS qv, sig AS qsig FROM s WHERE vec_id = 0
)
SELECT s.vec_id,
       round(list_inner_product(s.dv, q.qv)
         / (sqrt(list_inner_product(s.dv, s.dv)) * sqrt(list_inner_product(q.qv, q.qv))), 8)
         AS score
FROM s, q
WHERE s.sig = q.qsig AND s.vec_id <> 0
ORDER BY score DESC, s.vec_id
LIMIT 5
"""


@query("vec_lsh_knn", oracle=_rhp_oracle())
def vec_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate KNN restricted to the query's RHP bucket (6 planes →
    64 buckets). At scale the corpus is written partitioned by `sig` so
    the probe prunes ~63/64 of the data before any distance math."""
    from doris_spark.operators.vector import rhp_signature

    emb = load_tables(spark, sf_dir)["embeddings"]
    corp = emb.withColumn("__sig", rhp_signature("embedding", 64, 6, 42)).persist()
    q = F.broadcast(
        corp.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("__qvec"), F.col("__sig").alias("__qsig")
        )
    )
    joined = corp.filter(F.col("vec_id") != 0).join(
        q, F.col("__sig") == F.col("__qsig")
    )
    return (
        joined.select(
            "vec_id",
            F.round(V.cosine_similarity("embedding", "__qvec"), 8).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


@query("vec_lsh_knn_indexed", oracle=_rhp_oracle())
def vec_lsh_knn_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED ANN index probe (operators/vector.py build_ann_index):
    the corpus is written partitioned by RHP signature; the probe
    computes the query signature driver-side and filters sig=<literal>,
    so the parquet scan shows PartitionFilters and reads ONE bucket
    (~1/64 of the corpus at 6 planes) before exact cosine + top-k.
    Same oracle as vec_lsh_knn — the index changes the ACCESS PATH,
    not the result. Reference: faiss_ann_index.h build +
    PushDownVectorTopNIntoOlapScan.java probe."""
    import os
    import tempfile

    from doris_spark.operators.vector import ann_index_probe, build_ann_index

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = os.path.join(
        tempfile.gettempdir(), f"doris_spark_ann_{stable_key(sf_dir)}.parquet"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_ann_index(emb, path, "embedding", dim=64, n_planes=6, seed=42)
    qvec = (
        emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    # k+1: the query vector itself (score 1.0) is in the bucket and is
    # filtered out below, matching the oracle's vec_id <> 0 predicate
    probe = ann_index_probe(
        spark, path, qvec, dim=64, k=6, n_planes=6, seed=42,
        id_col="vec_id", vec_col="embedding",
    )
    return (
        probe.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round("score", 8).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


_IVF_D2 = (
    "list_sum(list_transform(list_zip({c}, {v}), "
    "p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


def _ivf_oracle(iters: int = 2) -> str:
    """DuckDB replay of train_ivf_codebook + probe + search: the SAME
    deterministic Lloyd algorithm (smallest-id seeds, fixed iterations,
    6-dp centroid rounding, index-ascending distance folds, cid
    tie-breaks) unrolled as chained CTEs — the 6-dp rounding is what
    makes the two engines' codebooks bit-identical (decimal half-way
    points are not dyadic, so the round never sits on a boundary)."""
    parts = [
        "WITH c0 AS (SELECT vec_id AS cid, list_transform(embedding, "
        "x -> round(CAST(x AS DOUBLE), 6)) AS cv "
        "FROM embeddings WHERE vec_id BETWEEN 1 AND 16)",
        f"corp AS (SELECT vec_id, {_DVEC} AS ev FROM embeddings "
        "WHERE vec_id <> 0)",
    ]
    prev = "c0"
    dist = _IVF_D2.format(c="cv", v="ev")
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, ev, cid FROM (SELECT vec_id, ev, "
            f"cid, row_number() OVER (PARTITION BY vec_id "
            f"ORDER BY {dist} ASC, cid ASC) AS rn "
            f"FROM corp, {prev}) WHERE rn = 1)"
        )
        parts.append(
            f"m{i} AS (SELECT cid, idx, round(avg(v), 6) AS m FROM "
            f"(SELECT cid, unnest(ev) AS v, generate_subscripts(ev, 1) "
            f"AS idx FROM a{i}) GROUP BY cid, idx)"
        )
        parts.append(
            f"n{i} AS (SELECT cid, list(m ORDER BY idx) AS cv "
            f"FROM m{i} GROUP BY cid)"
        )
        parts.append(
            f"c{i} AS (SELECT p.cid, coalesce(n{i}.cv, p.cv) AS cv "
            f"FROM {prev} p LEFT JOIN n{i} ON p.cid = n{i}.cid)"
        )
        prev = f"c{i}"
    qd = _IVF_D2.format(c="cv", v="qv")
    fd = _IVF_D2.format(c=_DVEC, v="qv")
    return (
        ",\n".join(parts)
        + f""",
q AS (SELECT {_DVEC} AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cid FROM {prev}, q ORDER BY {qd} ASC, cid LIMIT 4
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      ORDER BY {_IVF_D2.format(c="cv", v="ev")} ASC, cid ASC) AS rn
    FROM corp, {prev}) WHERE rn = 1
)
SELECT e.vec_id, sqrt({fd}) AS score
FROM embeddings e
JOIN assigned a ON e.vec_id = a.vec_id, q
WHERE a.cid IN (SELECT cid FROM probe)
ORDER BY score ASC, e.vec_id
LIMIT 10
"""
    )


@query(
    "vec_ivf_knn",
    oracle=_ivf_oracle(2),
)
def vec_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-10 (operators/vector.py ivf_knn):
    16-entry K-MEANS coarse codebook (train_ivf_codebook: deterministic
    Lloyd, 2 iterations, 6-dp rounded centroids), 4 probed lists, exact
    L2 within the probe. The oracle replays the full training +
    assignment + probe + search in DuckDB list algebra — the trained
    quantizer itself is verified, not just the output shape."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    corpus = emb.filter(F.col("vec_id") != 0)
    return V.ivf_knn(corpus, _query_vec(spark, sf_dir), "embedding", "vec_id",
                     k=10, n_centroids=16, nprobe=4)


@query(
    "vec_ivf_knn_indexed",
    oracle=_ivf_oracle(2),
)
def vec_ivf_knn_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF index probe (operators/vector.py build_ivf_index /
    ivf_index_probe; faiss_ann_index.h write-time IVF build): the
    k-means codebook is trained ONCE at build time, the corpus is
    written partitioned by assigned list id, and the probe reads the
    tiny codebook sidecar driver-side, picks the 4 nearest lists with
    no Spark job, and scans only those partitions (PartitionFilters
    [__cid IN ...]). Same oracle as vec_ivf_knn — the index changes the
    ACCESS PATH, not the result; gates in tests/test_operators.py
    assert zero training jobs and partition pruning at probe time."""
    import os
    import tempfile

    from doris_spark.operators.vector import build_ivf_index, ivf_index_probe

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = os.path.join(
        tempfile.gettempdir(), f"doris_spark_ivf_{stable_key(sf_dir)}"
    )
    if not os.path.exists(os.path.join(path, "codebook.json")):
        build_ivf_index(
            emb.filter(F.col("vec_id") != 0), path, "embedding", "vec_id",
            n_centroids=16, train_iters=2,
        )
    qvec = [
        float(x)
        for x in _query_vec(spark, sf_dir).select("embedding").first()[0]
    ]
    return ivf_index_probe(
        spark, path, qvec, k=10, nprobe=4, id_col="vec_id", vec_col="embedding"
    )
