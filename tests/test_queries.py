"""Every registered query must hash-match its DuckDB oracle (driver's t2 gate,
mirrored locally), and follow the final ORDER BY of its oracle text when
that text ends in one over output columns. Queries without an oracle get
a rows-run check."""

from __future__ import annotations

import pytest

from doris_spark import queries as Q

Q.load_all()


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    df = Q.QUERIES[name](spark, sf_dir)
    if name in Q.ORACLES:
        from tests.oracle_utils import compare

        ok, msg = compare(df, duck, Q.ORACLES[name])
        assert ok, f"{name}: {msg}"
    else:
        n = df.count()
        assert n >= 0


def test_sql_query_keeps_the_tables_it_was_built_on(spark):
    """A SQL-text query re-registers the fixture views on every call. A
    DataFrame built before the views point at another directory must still
    return its own directory's rows."""
    import os

    from tests.conftest import SF_DIR
    from tests.oracle_utils import canon_rows, duckdb_conn

    name = "tpch_q4"
    assert Q.QUERIES[name].__module__ == Q.__name__  # registered by sql_query
    base = os.path.dirname(SF_DIR)
    dirs = [os.path.join(base, "sf0.001"), os.path.join(base, "sf0.01")]
    dfs = [Q.QUERIES[name](spark, d) for d in dirs]
    got = [canon_rows(df.columns, [tuple(r) for r in df.collect()]) for df in dfs]
    want = []
    for d in dirs:
        con = duckdb_conn(d)
        res = con.execute(Q.ORACLES[name])
        want.append(canon_rows([c[0] for c in res.description], res.fetchall()))
        con.close()
    assert want[0] != want[1]
    assert got == want
