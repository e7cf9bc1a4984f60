"""Regression tests for the round-8 ADVICE findings (fixed in round 9).

1. engine._file_pruned_rewrite: no silent row duplication when the
   superseded data files cannot be removed (pre-flight writability
   check routes to the snapshot fallback; post-append removal failures
   raise instead of pass).
2. operators.vector codebook cache: content-aware keys (per-file
   size+mtime) so an in-place rewrite at the same path misses, and the
   cache is LRU-bounded.
3. plans.sql_macros _fe_var/_fe_cov: centered moments — no raw-moment
   catastrophic cancellation over large-offset values.
4. plans.dialect `internal.` catalog strip: anchored so a table alias
   or column literally named `internal` is left alone.
"""

from __future__ import annotations

import os

import pytest


def test_file_pruned_dml_no_silent_duplication_when_unremovable(spark):
    """ADVICE r8 (medium): a selective UPDATE whose superseded files
    cannot be unlinked must never append-then-ignore. With the table
    directory read-only the pre-flight check rejects the file-pruned
    path BEFORE any append, so whatever happens next (snapshot fallback
    or a loud error), the table never holds duplicate rows."""
    from doris_spark.engine import Engine

    eng = Engine(spark)
    spark.sql("DROP TABLE IF EXISTS fp_ro_t")
    spark.sql("CREATE TABLE fp_ro_t (id INT, v STRING) USING parquet")
    for lo in (0, 100):
        spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(5)], "id INT, v STRING"
        ).coalesce(1).write.insertInto("fp_ro_t")
    files = spark.table("fp_ro_t").inputFiles()
    from urllib.parse import unquote, urlparse

    table_dir = os.path.dirname(unquote(urlparse(files[0]).path))
    os.chmod(table_dir, 0o555)
    try:
        try:
            eng.sql("UPDATE fp_ro_t SET v = 'X' WHERE id = 102").collect()
        except Exception:
            pass  # a loud failure is acceptable; silent duplication is not
    finally:
        os.chmod(table_dir, 0o755)
    spark.catalog.refreshTable("fp_ro_t")
    rows = spark.table("fp_ro_t").collect()
    ids = [r.id for r in rows]
    assert len(ids) == 10 and len(set(ids)) == 10, (
        "DML against unremovable files duplicated rows"
    )
    spark.sql("DROP TABLE IF EXISTS fp_ro_t")


def test_codebook_cache_invalidates_on_inplace_rewrite(spark, tmp_path):
    """ADVICE r8: the ad-hoc IVF codebook cache key carries per-file
    (size, mtime) — rewriting the corpus in place at the SAME path must
    retrain, not return the stale codebook."""
    from doris_spark.operators import vector as V

    p = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(8)],
        "id BIGINT, emb ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    c1 = V.train_ivf_codebook(
        spark.read.parquet(p), "emb", "id", n_centroids=2, iters=1
    )
    # rewrite in place with shifted vectors (same path, same row count)
    spark.createDataFrame(
        [(i, [float(i) + 100.0, float(i) + 100.0]) for i in range(8)],
        "id BIGINT, emb ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    c2 = V.train_ivf_codebook(
        spark.read.parquet(p), "emb", "id", n_centroids=2, iters=1
    )
    assert c1 != c2, "stale codebook served after in-place rewrite"


def test_codebook_cache_is_bounded():
    from doris_spark.operators import vector as V

    V._CODEBOOK_CACHE.clear()
    for i in range(V._CODEBOOK_CACHE_MAX + 20):
        V._CODEBOOK_CACHE[("fake", i)] = [(0, [0.0])]
        V._CODEBOOK_CACHE.move_to_end(("fake", i))
        while len(V._CODEBOOK_CACHE) > V._CODEBOOK_CACHE_MAX:
            V._CODEBOOK_CACHE.popitem(last=False)
    assert len(V._CODEBOOK_CACHE) <= V._CODEBOOK_CACHE_MAX
    V._CODEBOOK_CACHE.clear()


def test_foreach_stats_centered_moments(spark):
    """ADVICE r8: *_foreach variance/covariance use centered moments.
    Over values offset by ~1e10 the raw-moment form loses all
    precision; the centered form is exact here."""
    from doris_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame(
        [([1.0e10 + 1, 1.0e10 + 2, 1.0e10 + 3], [1.0, 2.0, 3.0]),
         ([1.0e10 + 5], [7.0])],
        "a array<double>, b array<double>",
    ).createOrReplaceTempView("fe_stats_tt")
    var_v = eng.sql(
        "select variance_foreach(a) v from fe_stats_tt"
    ).collect()[0].v
    # index 1: values {1e10+1, 1e10+5} -> var_pop = 4 exactly
    assert var_v[0] == pytest.approx(4.0, abs=1e-6)
    assert var_v[1] == 0.0 and var_v[2] == 0.0  # single sample -> 0
    corr_v = eng.sql(
        "select corr_foreach(a, b) v from fe_stats_tt"
    ).collect()[0].v
    # index 1: two points, x up / y up -> corr exactly 1
    assert corr_v[0] == pytest.approx(1.0, abs=1e-9)
    cov_v = eng.sql(
        "select covar_samp_foreach(a, b) v from fe_stats_tt"
    ).collect()[0].v
    # dx = ±2, dy = ±3 -> covar_samp = (2*3 + 2*3)/1 = 12
    assert cov_v[0] == pytest.approx(12.0, abs=1e-6)


def test_dialect_internal_strip_is_anchored():
    from doris_spark.plans.dialect import dialect

    # table-ref position: stripped with two trailing parts
    assert "internal." not in dialect(
        "select * from internal.db1.t b where internal.db1.t.id = 1"
    )
    # alias named `internal`: left alone (2 trailing parts, no keyword)
    assert "internal.s.f" in dialect("SELECT internal.s.f FROM t internal")
