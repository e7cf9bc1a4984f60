"""Text analysis + dedup queries over the documents corpus.

Reference analogs: tokenize (be/src/exprs/function/function_tokenize.cpp),
match_any/match_all/match_phrase (be/src/exprs/function/match.h:54-59),
BM25 score() (be/src/exprs/function/function_score.cpp), ngram/levenshtein
(function_levenshtein.cpp). Dedup/quality/lang-ID are the LLM-pipeline
extensions (BASELINE.json north star).

Every oracle replicates the exact same md5/token arithmetic in DuckDB, so
these are value-checked, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doris_spark.operators import dedup as D
from doris_spark.operators import textops as T
from doris_spark.queries import query, stable_key
from doris_spark.session import ensure_parallelism, load_tables

# DuckDB-side shared fragments (must mirror operators/textops.py +
# operators/dedup.py exactly).
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


@query(
    "txt_quality",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks, {_NORM} AS norm FROM documents)
SELECT doc_id, lang,
       len(toks) AS n_tokens,
       length(norm) AS n_chars_norm,
       CASE WHEN len(toks) > 0
            THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS mean_token_len,
       CASE WHEN len(toks) > 0
            THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS distinct_ratio,
       CASE WHEN len(toks) > 0
            THEN CAST(len(list_filter(toks,
                 x -> list_contains(['the','a','and','of','to','in','is'], x))) AS DOUBLE)
                 / len(toks)
            ELSE 0.0 END AS stopword_ratio
FROM t
""",
)
def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (token counts, distinct ratio,
    stopword ratio) — pure built-in expressions."""
    docs = load_tables(spark, sf_dir)["documents"]
    return T.quality_features(docs, "text").select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_chars_norm",
        "mean_token_len",
        "distinct_ratio",
        "stopword_ratio",
    )


@query(
    "txt_langid",
    oracle=f"""
WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents),
scored AS (
  SELECT lang,
    len(list_filter(toks, x -> x = 'der')) + len(list_filter(toks, x -> x = 'die'))
      + len(list_filter(toks, x -> x = 'und')) AS s_de,
    len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'and'))
      + len(list_filter(toks, x -> x = 'of')) AS s_en,
    len(list_filter(toks, x -> x = 'el')) + len(list_filter(toks, x -> x = 'la'))
      + len(list_filter(toks, x -> x = 'los')) AS s_es,
    len(list_filter(toks, x -> x = 'le')) + len(list_filter(toks, x -> x = 'la'))
      + len(list_filter(toks, x -> x = 'et')) AS s_fr
  FROM t
)
SELECT lang,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr) > 0 AND s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN greatest(s_de, s_en, s_es, s_fr) > 0 AND s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN greatest(s_de, s_en, s_es, s_fr) > 0 AND s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
            WHEN greatest(s_de, s_en, s_es, s_fr) > 0 AND s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
            ELSE 'und' END AS predicted,
       count(*) AS cnt
FROM scored
GROUP BY lang, predicted
ORDER BY lang, predicted
""",
)
def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword language ID crossed against the labeled lang."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("lang", T.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("lang", "predicted")
    )


@query(
    "txt_exact_dedup",
    oracle=f"""
WITH h AS (SELECT source, doc_id, md5({_NORM}) AS content_hash FROM documents)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT content_hash) AS n_unique,
       count(*) - count(DISTINCT content_hash) AS n_dup_rows
FROM h GROUP BY source ORDER BY source
""",
)
def txt_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup statistics by source (normalized-content hash). The
    group-level variant is exact_dedup_groups / exact_dedup in
    operators/dedup.py (tested in tests/test_operators.py)."""
    docs = load_tables(spark, sf_dir)["documents"]
    h = docs.select("source", "doc_id", F.md5(D.normalized_text(F.col("text"))).alias("content_hash"))
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("content_hash").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("content_hash")).alias("n_dup_rows"),
        )
        .orderBy("source")
    )


@query(
    "txt_fingerprint",
    oracle=f"""
WITH fp AS (
  SELECT source,
         md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS f
  FROM documents
)
SELECT source, count(*) AS n_docs, count(DISTINCT f) AS n_distinct_fp
FROM fp GROUP BY source ORDER BY source
""",
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (md5 of sorted distinct token set): bag-of-words
    content identity per source."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("source", T.fingerprint("text").alias("f"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.countDistinct("f").alias("n_distinct_fp"))
        .orderBy("source")
    )


@query(
    "txt_match",
    oracle=f"""
WITH t AS (SELECT lang, {_TOKS} AS toks, {_NORM} AS norm FROM documents)
SELECT lang,
       sum(CASE WHEN list_contains(toks, 'spark') OR list_contains(toks, 'join')
                THEN 1 ELSE 0 END) AS n_any,
       sum(CASE WHEN list_contains(toks, 'spark') AND list_contains(toks, 'join')
                THEN 1 ELSE 0 END) AS n_all,
       sum(CASE WHEN contains(' ' || norm || ' ', ' spark join ') THEN 1 ELSE 0 END) AS n_phrase,
       sum(CASE WHEN contains(' ' || norm, ' spark jo') THEN 1 ELSE 0 END) AS n_phrase_prefix
FROM t GROUP BY lang ORDER BY lang
""",
)
def txt_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_any / match_all / match_phrase / match_phrase_prefix semantics
    (inverted-index predicates re-expressed as token-set / padded-substring
    predicates; be/src/exprs/function/match.h:54-59)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(F.when(T.match_any("text", ["spark", "join"]), 1).otherwise(0)).alias("n_any"),
            F.sum(F.when(T.match_all("text", ["spark", "join"]), 1).otherwise(0)).alias("n_all"),
            F.sum(F.when(T.match_phrase("text", "spark join"), 1).otherwise(0)).alias("n_phrase"),
            F.sum(
                F.when(T.match_phrase_prefix("text", "spark jo"), 1).otherwise(0)
            ).alias("n_phrase_prefix"),
        )
        .orderBy("lang")
    )


@query(
    "txt_match_indexed",
    oracle=f"""
WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents)
SELECT lang,
       sum(CASE WHEN list_contains(toks, 'spark') OR list_contains(toks, 'join')
                THEN 1 ELSE 0 END) AS n_any,
       sum(CASE WHEN list_contains(toks, 'spark') AND list_contains(toks, 'join')
                THEN 1 ELSE 0 END) AS n_all
FROM t GROUP BY lang ORDER BY lang
""",
)
def txt_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-PROBED match_any/match_all (operators/text_index.py; the
    inverted-index analog of be/src/storage/index/inverted/ +
    PushDownMatchProjectionAsVirtualColumn.java): a persisted postings
    table (token, doc_id) partitioned by token hash bucket answers the
    term probe with a partition-pruned scan, and the corpus joins on doc
    ids — its text column is never re-tokenized. Same results as
    txt_match's n_any/n_all (the oracle recomputes them from scratch),
    O(postings) instead of O(corpus) at scale."""
    import os as _os
    import tempfile

    from doris_spark.operators.text_index import TextIndex, build_text_index

    docs = load_tables(spark, sf_dir)["documents"]
    path = _os.path.join(
        tempfile.gettempdir(), f"doris_spark_txtidx_{stable_key(sf_dir)}"
    )
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        build_text_index(docs, "text", "doc_id", path)
    idx = TextIndex(spark, path)
    terms = ["spark", "join"]
    # ONE partition-pruned index scan answers both predicates: a doc
    # matching n_terms >= 1 is match_any, n_terms = |terms| is match_all
    # (was: two index scans + two joins against the corpus).
    counts = idx.term_doc_counts(terms).withColumnRenamed("doc_id", "__mid")
    return (
        docs.join(counts, docs["doc_id"] == F.col("__mid"), "left")
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("__mid").isNotNull(), 1).otherwise(0)).alias("n_any"),
            F.sum(
                F.when(F.col("n_terms") == len(terms), 1).otherwise(0)
            ).alias("n_all"),
        )
        .orderBy("lang")
    )


def _shingle_sql(n: int = 3) -> str:
    """DuckDB expression for the distinct n-token shingle list (1-based
    list indexing), mirroring operators/dedup.token_shingles."""
    parts = " || ' ' || ".join(f"{_TOKS}[i + {k + 1}]" for k in range(n))
    return (
        f"list_distinct(list_transform(range(greatest(len({_TOKS}) - {n - 1}, 0)), "
        f"i -> {parts}))"
    )


def _hash60_sql(s: str) -> str:
    """DuckDB replacement for Spark `conv(substr(md5(s),1,15),16,10)`:
    60-bit bigint from the first 15 md5 hex chars (DuckDB has no conv)."""
    return (
        f"CAST(list_sum(list_transform(range(15), i -> "
        f"(strpos('0123456789abcdef', substr(md5({s}), i + 1, 1)) - 1)::BIGINT"
        f" << (4 * (14 - i)))) AS BIGINT)"
    )


_MINHASH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_shingle_sql(3)}) AS shingle FROM documents
), sig AS (
  SELECT doc,
         {", ".join(
             f"min(substr(md5('{i // 4}:' || shingle), {1 + 8 * (i % 4)}, 8)) AS sig_{i}"
             for i in range(8)
         )}
  FROM sh GROUP BY doc
), buckets AS (
  {" UNION ALL ".join(
    f"SELECT doc, {b} AS band, sig_{2 * b} || '|' || sig_{2 * b + 1} AS key FROM sig"
    for b in range(4)
  )}
)
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
ORDER BY doc_a, doc_b
"""


@query("txt_minhash_pairs", oracle=_MINHASH_ORACLE)
def txt_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs (8 hashes, 4 bands of 2).
    The oracle recomputes identical signatures in DuckDB — full value check
    of the LSH pipeline."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4, shingle_n=3
    ).orderBy("doc_a", "doc_b")


@query(
    "txt_jaccard_adjacent",
    oracle=f"""
WITH t AS (SELECT doc_id,
                  list_distinct(list_transform({_shingle_sql(3)},
                                               s -> {_hash60_sql('s')})) AS sh
           FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
            ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))) END AS jaccard
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
ORDER BY doc_a
""",
)
def txt_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity between consecutive doc ids (linear-size
    verification of the shingle-set similarity machinery). Shingles are
    hashed to 60-bit bigints up front: set ops then move 8-byte ints
    instead of ~25-char strings (3× on the scan-side stage); the oracle
    hashes identically, so values still match exactly."""
    docs = load_tables(spark, sf_dir)["documents"]
    # Pair assembly by EXPLODE + one groupBy (r12, the LSH in-bucket
    # combination trick applied to the adjacent-id self-join): each doc
    # emits its shingle set under pair keys doc_id (as the left role) and
    # doc_id-1 (as the right role); grouping on the key reassembles the
    # (d, d+1) pair in ONE shuffle. The old persisted self-join cached the
    # shingle arrays (a §5 memory hold at scale) and paid two join-side
    # exchanges; here the ~300-shingle pipeline still runs once per doc,
    # and inner-join existence survives as the both-roles-present filter.
    t = ensure_parallelism(docs).select(
        "doc_id",
        F.array_distinct(
            F.transform(
                D.token_shingles("text", 3),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            )
        ).alias("sh"),
    )
    sides = t.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("k"), F.lit(0).alias("pos"),
                    F.col("doc_id"), F.col("sh"),
                ),
                F.struct(
                    (F.col("doc_id") - 1).alias("k"), F.lit(1).alias("pos"),
                    F.col("doc_id"), F.col("sh"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    pairs = (
        sides.groupBy("k")
        .agg(
            F.first(F.when(F.col("pos") == 0, F.col("sh")), True).alias("sh_a"),
            F.first(F.when(F.col("pos") == 1, F.col("sh")), True).alias("sh_b"),
            F.max(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("doc_b"),
            # presence flags, NOT payload nullness: a NULL-text doc still
            # exists for the inner-join semantics
            F.max(F.when(F.col("pos") == 0, 1)).alias("has_a"),
            F.max(F.when(F.col("pos") == 1, 1)).alias("has_b"),
        )
        .filter(F.col("has_a").isNotNull() & F.col("has_b").isNotNull())
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return pairs.select(
        F.col("k").alias("doc_a"),
        F.col("doc_b"),
        F.when(union == 0, F.lit(0.0))
        .otherwise(inter.cast("double") / union.cast("double"))
        .alias("jaccard"),
    ).orderBy("doc_a")


_SIMHASH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS doc, {_shingle_sql(2)} AS shingles FROM documents
), h AS (
  SELECT doc, list_transform(shingles, s -> {_hash60_sql('s')}) AS hashes
  FROM sh
), sim AS (
  SELECT doc,
         CAST(list_sum(list_transform(range(60), bit ->
             CASE WHEN coalesce(list_sum(list_transform(hashes, x ->
                        CASE WHEN (x >> bit) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
                  THEN 1::BIGINT << bit ELSE 0::BIGINT END)) AS BIGINT) AS simhash
  FROM h
)
SELECT a.doc AS doc_a, b.doc AS doc_b, a.simhash AS sim_a,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON b.doc = a.doc + 1
ORDER BY doc_a
"""


@query("txt_simhash", oracle=_SIMHASH_ORACLE)
def txt_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit fingerprint per doc + Hamming distance
    between consecutive doc ids. The oracle rebuilds the identical
    fingerprint in DuckDB (hex-char → bigint without conv), so the whole
    bit-vote pipeline is value-checked."""
    docs = load_tables(spark, sf_dir)["documents"]
    # Pair assembly by EXPLODE + one groupBy (r12, same shape as
    # txt_jaccard_adjacent): each fingerprint is emitted under pair keys
    # doc_id and doc_id-1; one shuffle reassembles (d, d+1). Replaces the
    # persisted self-join (cache + two join-side exchanges); the md5/vote
    # pipeline still runs once per doc, pre-explode.
    sim = ensure_parallelism(docs).select(
        "doc_id", D.simhash64("text", 2).alias("simhash")
    )
    sides = sim.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("k"), F.lit(0).alias("pos"),
                    F.col("doc_id"), F.col("simhash"),
                ),
                F.struct(
                    (F.col("doc_id") - 1).alias("k"), F.lit(1).alias("pos"),
                    F.col("doc_id"), F.col("simhash"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return (
        sides.groupBy("k")
        .agg(
            F.max(F.when(F.col("pos") == 0, F.col("simhash"))).alias("sim_a"),
            F.max(F.when(F.col("pos") == 1, F.col("simhash"))).alias("sim_b"),
            F.max(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("doc_b"),
            # presence flags, NOT payload nullness (NULL-text doc exists)
            F.max(F.when(F.col("pos") == 0, 1)).alias("has_a"),
            F.max(F.when(F.col("pos") == 1, 1)).alias("has_b"),
        )
        .filter(F.col("has_a").isNotNull() & F.col("has_b").isNotNull())
        .select(
            F.col("k").alias("doc_a"),
            F.col("doc_b"),
            F.col("sim_a"),
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("bigint").alias("hamming"),
        )
        .orderBy("doc_a")
    )


_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_ORACLE = f"""
WITH t AS (
  SELECT doc_id AS doc, {_TOKS} AS toks, len({_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS N, avg(dl) AS avgdl FROM t
), dfreq AS (
  SELECT
    (SELECT count(*) FROM t WHERE list_contains(toks, 'spark')) AS df_spark,
    (SELECT count(*) FROM t WHERE list_contains(toks, 'vector')) AS df_vector
)
SELECT doc, score FROM (
  SELECT doc,
    ln((N - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
      * (len(list_filter(toks, x -> x = 'spark')) * ({_BM25_K1} + 1))
      / (len(list_filter(toks, x -> x = 'spark'))
         + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
    + ln((N - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
      * (len(list_filter(toks, x -> x = 'vector')) * ({_BM25_K1} + 1))
      / (len(list_filter(toks, x -> x = 'vector'))
         + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl)) AS score
  FROM t, stats, dfreq
) s
WHERE score > 0
ORDER BY score DESC, doc
LIMIT 10
"""


@query("txt_bm25", oracle=_BM25_ORACLE)
def txt_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for query terms ('spark', 'vector') — docfreq-join
    pipeline, no self-join (reference analog: score()/BM25 over the
    inverted index)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return T.bm25_rank(
        docs, "text", "doc_id", ["spark", "vector"], k1=_BM25_K1, b=_BM25_B, limit=10
    )


@query(
    "txt_search_dsl",
    oracle=f"""
WITH t AS (SELECT lang, {_TOKS} AS toks, {_NORM} AS norm FROM documents)
SELECT lang,
       sum(CASE WHEN list_contains(toks, 'spark')
                 AND (list_contains(toks, 'join')
                      OR contains(' ' || norm || ' ', ' shuffle join '))
                 AND NOT list_contains(toks, 'broken')
            THEN 1 ELSE 0 END) AS n_hits
FROM t GROUP BY lang ORDER BY lang
""",
)
def txt_search_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search() DSL (function_search.h / SearchParser.g4): the boolean
    query compiles to pure Column predicates (operators/search_dsl.py) —
    the oracle spells out the same boolean structure explicitly."""
    from doris_spark.operators.search_dsl import search

    docs = load_tables(spark, sf_dir)["documents"]
    hit = search('spark AND (join OR "shuffle join") AND NOT broken', "text")
    return (
        docs.groupBy("lang")
        .agg(F.sum(F.when(hit, 1).otherwise(0)).alias("n_hits"))
        .orderBy("lang")
    )


_CLUSTER_ORACLE = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS doc, unnest({_shingle_sql(3)}) AS shingle FROM documents
), sig AS (
  SELECT doc,
         {", ".join(
             f"min(substr(md5('{i // 4}:' || shingle), {1 + 8 * (i % 4)}, 8)) AS sig_{i}"
             for i in range(8)
         )}
  FROM sh GROUP BY doc
), buckets AS (
  {" UNION ALL ".join(
    f"SELECT doc, {b} AS band, sig_{2 * b} || '|' || sig_{2 * b + 1} AS key FROM sig"
    for b in range(4)
  )}
), pairs AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(id, r) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, r.r FROM sym s JOIN reach r ON s.v = r.id
)
SELECT id AS doc_id, min(r) AS component,
       CAST(CASE WHEN id = min(r) THEN 1 ELSE 0 END AS INT) AS keep
FROM reach GROUP BY id
ORDER BY component, doc_id
"""


@query("txt_dedup_clusters", oracle=_CLUSTER_ORACLE)
def txt_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash+LSH candidate pairs -> connected
    components (min-label propagation, operators/dedup.py) -> canonical
    doc per cluster (smallest id keeps). The oracle recomputes the
    entire pipeline in DuckDB, components via recursive reachability —
    the clustering itself is value-checked, not just the pair list."""
    docs = load_tables(spark, sf_dir)["documents"]
    # dedup=False: connected components are duplicate-edge-insensitive,
    # so the cross-band distinct (one exchange+agg) is skipped (r12).
    pairs = D.minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=8, bands=4,
                                shingle_n=3, dedup=False)
    return D.dedup_clusters(docs, pairs, "doc_id").orderBy("component", "doc_id")


@query(
    "txt_chunking",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 200),
e AS (
  SELECT doc_id, toks,
         unnest(generate_series(0,
             greatest(CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT), 0))) AS i
  FROM t
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       array_to_string(toks[i * 24 + 1 : least(i * 24 + 32, len(toks))], ' ') AS chunk_text,
       CAST(least(i * 24 + 32, len(toks)) - i * 24 AS INT) AS n_tokens
FROM e ORDER BY doc_id, chunk_id
""",
)
def txt_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (operators/textops.py chunk_documents): 32-token
    windows, 8-token overlap, full coverage (the last window always
    reaches the document tail). Pure column algebra — tokenize, slice
    windows, posexplode; no shuffle, no UDF. The oracle recomputes the
    same windows with DuckDB list slicing."""
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 200)
    return T.chunk_documents(docs, "text", "doc_id",
                             chunk_tokens=32, overlap=8).orderBy("doc_id", "chunk_id")


@query(
    "txt_pii_scrub",
    oracle="""
WITH t AS (
  SELECT doc_id,
         substr(text, 1, 40) || ' reach me: user' || doc_id ||
         '@mail.example.org or 555-123-4567 (backup 10.0.' ||
         CAST(doc_id % 256 AS VARCHAR) || '.7)' AS raw
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '(\\+\\d{1,3}[- .]?)?\\(?\\d{3}\\)?[- .]?\\d{3}[- .]?\\d{4}\\b', '<PHONE>', 'g'),
         '\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b', '<IP>', 'g') AS clean
FROM t ORDER BY doc_id
""",
)
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/textops.py scrub_pii): emails, phone
    numbers, and IPv4 literals masked with typed placeholders — chained
    JVM-side regexp_replace, the standard pre-training scrub. PII is
    synthesized onto the fixture text (the corpus has none) so every row
    exercises all three masks."""
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 300)
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" reach me: user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or 555-123-4567 (backup 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7)"),
    )
    from doris_spark.operators.textops import scrub_pii

    return docs.select("doc_id", scrub_pii(raw).alias("clean")).orderBy("doc_id")


@query(
    "doc_stratified_sample",
    oracle="""
SELECT lang, source, doc_id FROM (
  SELECT lang, source, doc_id,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) x WHERE rn <= 5
ORDER BY lang, source, doc_id
""",
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling (operators/textops.py
    stratified_sample): 5 docs per (lang, source) stratum ranked by a
    deterministic md5 key — reproducible balancing before training, one
    shuffle, WindowGroupLimit prunes to N per stratum. (The operator's
    default key is xxhash64; md5 here so the DuckDB oracle can recompute
    the identical ordering.)"""
    from doris_spark.operators.textops import stratified_sample

    docs = load_tables(spark, sf_dir)["documents"]
    out = stratified_sample(
        docs, ["lang", "source"], 5, "doc_id",
        rank_expr=F.md5(F.col("doc_id").cast("string")),
    )
    return out.select("lang", "source", "doc_id").orderBy("lang", "source", "doc_id")


_PIPELINE_ORACLE = f"""
WITH RECURSIVE quality AS (
  SELECT doc_id, text, lang, source
  FROM documents
  WHERE n_chars >= 40 AND len({_TOKS}) >= 5
), sh AS (
  SELECT doc_id AS doc, unnest({_shingle_sql(3)}) AS shingle
  FROM quality
), sig AS (
  SELECT doc,
         {", ".join(
             f"min(substr(md5('{i // 4}:' || shingle), {1 + 8 * (i % 4)}, 8)) AS sig_{i}"
             for i in range(8)
         )}
  FROM sh GROUP BY doc
), buckets AS (
  {" UNION ALL ".join(
    f"SELECT doc, {b} AS band, sig_{2 * b} || '|' || sig_{2 * b + 1} AS key FROM sig"
    for b in range(4)
  )}
), pairs AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(id, r) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, r.r FROM sym s JOIN reach r ON s.v = r.id
), clustered AS (
  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
), canonical AS (
  SELECT q.doc_id, q.text, q.lang, q.source
  FROM quality q LEFT JOIN clustered c ON q.doc_id = c.doc_id
  WHERE c.doc_id IS NULL OR c.component = q.doc_id
), sampled AS (
  SELECT doc_id, text, lang FROM (
    SELECT doc_id, text, lang,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
    FROM canonical
  ) x WHERE rn <= 10
)
SELECT lang, count(*) AS kept_docs,
       round(avg(len({_TOKS})), 6) AS avg_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM sampled
GROUP BY lang ORDER BY lang
"""


@query("corpus_curation_pipeline", oracle=_PIPELINE_ORACLE)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus curation — the composition a 100 TB
    pipeline actually runs, value-checked as one unit: quality gate
    (length + token floor) -> MinHash+LSH near-dup clustering, keep
    canonical docs -> deterministic stratified sample (10/language) ->
    per-language stats. Every stage is the engine's own operator
    (textops/dedup), and the oracle recomputes all of it in DuckDB,
    components via recursive reachability. Plan shape: one shuffle for
    the signature agg, bucket-join for pairs, bounded CC loop over
    paired docs only, one WindowGroupLimit for the sample."""
    docs = load_tables(spark, sf_dir)["documents"]
    quality = docs.filter(
        (F.col("n_chars") >= 40) & (F.size(T.tokenize("text")) >= 5)
    )
    # dedup=False: the CC consumer is duplicate-edge-insensitive (r12).
    pairs = D.minhash_lsh_pairs(quality, "text", "doc_id",
                                num_hashes=8, bands=4, shingle_n=3, dedup=False)
    clusters = D.dedup_clusters(quality, pairs, "doc_id").withColumnRenamed(
        "doc_id", "cl_doc"
    )
    canonical = (
        quality.join(clusters, F.col("doc_id") == F.col("cl_doc"), "left")
        .filter(F.col("cl_doc").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id", "text", "lang")
    )
    from doris_spark.operators.textops import stratified_sample

    sampled = stratified_sample(
        canonical, ["lang"], 10, "doc_id",
        rank_expr=F.md5(F.col("doc_id").cast("string")),
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("kept_docs"),
            F.round(F.avg(F.size(T.tokenize("text"))), 6).alias("avg_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )
