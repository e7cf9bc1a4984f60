"""Statement streams of the benchmark's workloads and their expected results.

A workload is a seeded stream of `Statement`s. Each statement carries the
canonical rows it must return (`expect`), computed outside any timer: from
the DuckDB oracle for `sql_lane`, and from a Python model of the same
statement stream for `dml_mixed`.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests.oracle_utils import canon_rows, duckdb_conn

# Statements of the SQL lane that error, or disagree with the oracle on some
# seeds, on the generated fixtures. They stay out of the timed stream (no timed
# operation may fail) and are re-run once in a traced run, where
# `oracle.known_failures` counts the ones that still fail: fixing one lowers
# that count.
KNOWN_FAILURES = (
    "sql:cb_json_prop",
    "sql:cb_minmax_ts",
    "sql:cb_minute_fmt_offset",
    "sql:cb_minute_series",
    "sql:cb_regex_key_agg",
    "sql:cb_value_quantiles",
    "sql:cb_wide_row_topn",
    "sql:ssb_q2_1",
    "sql:tpch_q11",
    "sql:tpch_q16",
    "sql:tpch_q2",
)


@dataclass
class Statement:
    """One timed operation. `kind` is `sql` (oracle text through Engine.sql),
    `builder` (a registered DataFrame builder), `read` or one of the write
    kinds `insert`, `update`, `delete` (Engine.sql in dml_mixed)."""

    sid: str
    kind: str
    text: str
    expect: tuple | None = None  # canon_rows() of the correct result
    # Statements of one family cost alike; a traced run traces half of each
    # family. Defaults to the statement itself.
    family: str = ""

    def __post_init__(self) -> None:
        self.family = self.family or self.sid

    @property
    def is_write(self) -> bool:
        return self.kind in ("insert", "update", "delete")


def check(st: Statement, cols, rows) -> str | None:
    """None when the result matches `st.expect`, else a short reason."""
    got = canon_rows(list(cols), rows)
    if got == st.expect:
        return None
    if got[0] != st.expect[0]:
        return f"columns {got[0]} != {st.expect[0]}"
    if len(got[1]) != len(st.expect[1]):
        return f"{len(got[1])} rows != {len(st.expect[1])}"
    return "values differ"


# --------------------------------------------------------------- sql_lane


# Queries run both as oracle text through Engine.sql and as their builder:
# scans, aggregates and 2- to 6-way joins. A pass must stay near 10 s, since a
# run also pays ~40 s for the JVM start and three set-ups.
BOTH = ("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q9", "tpch_q19", "ssb_q1_1")
# ClickBench texts that the SQL front end rewrites (`plans.passes_changed`)
# and that match DuckDB on every seed tried; most other SSB texts and
# `cb_json_prop` disagree with DuckDB on some seeds or after some statements.
SQL_ONLY = ("cb_hourly", "cb_having_avg_len", "cb_window_dims")
# Builders whose executed plans hold Python evaluation nodes (Arrow UDFs).
UDF_BUILDERS = ("mm_decode", "sketch_bitmap_roaring")


def sql_lane_statements(queries, oracles, sf_dir: str, with_known: bool = False):
    """The BOTH queries, each as oracle text sent through Engine.sql and as
    its DataFrame builder, the SQL_ONLY texts and the UDF_BUILDERS. Returns
    (timed, known): `known` holds the KNOWN_FAILURES statements when
    `with_known`."""
    con = duckdb_conn(sf_dir)

    def expect(name):
        res = con.execute(oracles[name])
        return canon_rows([d[0] for d in res.description], res.fetchall())

    timed: list[Statement] = []
    for name in BOTH:
        exp = expect(name)
        timed.append(Statement(f"sql:{name}", "sql", oracles[name], exp))
        timed.append(Statement(f"builder:{name}", "builder", name, exp))
    timed += [Statement(f"sql:{n}", "sql", oracles[n], expect(n)) for n in SQL_ONLY]
    timed += [Statement(f"builder:{n}", "builder", n, expect(n)) for n in UDF_BUILDERS]
    known = [Statement(sid, "sql", oracles[sid[4:]], expect(sid[4:]))
             for sid in KNOWN_FAILURES] if with_known else []
    con.close()
    return timed, known


# -------------------------------------------------------------- dml_mixed

KV_ROWS = 100_000
# One block of the dml_mixed stream, shuffled by the seed: half writes, and
# a fixed share of each statement kind so every seed does the same work. Of
# the 10 reads, 6 are point and 4 aggregate reads: the read median then falls
# inside the point reads and the p90 inside the aggregates, not on the edge
# between the two.
DML_BLOCK = ("insert",) * 2 + ("upsert",) * 2 + ("update",) * 4 + ("delete",) * 2 + (
    "point",) * 6 + ("agg",) * 4
KV_TAGS = [f"t{i:02d}" for i in range(16)]


@dataclass
class KVModel:
    """Python model of the UNIQUE_KEYS table `kv(k, v, tag, seq)`: the row
    with the highest `seq` per key wins; UPDATE keeps `seq`."""

    rows: dict[int, tuple[int, str, int]] = field(default_factory=dict)

    def upsert(self, batch) -> int:
        for k, v, tag, seq in batch:
            old = self.rows.get(k)
            if old is None or seq >= old[2]:
                self.rows[k] = (v, tag, seq)
        return len(batch)

    def update_add(self, keys, delta: int) -> int:
        hit = [k for k in keys if k in self.rows]
        for k in hit:
            v, tag, seq = self.rows[k]
            self.rows[k] = (v + delta, tag, seq)
        return len(hit)

    def delete(self, keys) -> int:
        hit = [k for k in keys if k in self.rows]
        for k in hit:
            del self.rows[k]
        return len(hit)

    def point(self, keys):
        out = [(k, *self.rows[k]) for k in keys if k in self.rows]
        return canon_rows(["k", "v", "tag", "seq"], out)

    def by_tag(self):
        acc: dict[str, list[int]] = {}
        for v, tag, _ in self.rows.values():
            a = acc.setdefault(tag, [0, 0])
            a[0] += 1
            a[1] += v
        return canon_rows(["tag", "n", "s"], [(t, n, s) for t, (n, s) in acc.items()])


def kv_tables(seed: int, n_rows: int, data_dir: str):
    """Write the seeded base table `kv` and the upsert source `kv_src`
    (half existing keys, half new ones); returns (base rows, src rows)."""
    rng = np.random.default_rng(seed + 1)
    base = {
        "k": np.arange(n_rows, dtype=np.int64),
        "v": rng.integers(0, 1_000_000, n_rows).astype(np.int64),
        "tag": np.asarray(KV_TAGS, dtype=object)[rng.integers(0, 16, n_rows)],
        "seq": np.zeros(n_rows, dtype=np.int64),
    }
    n_src = max(100, n_rows // 5)
    src = {
        "k": np.arange(n_rows - n_src // 2, n_rows + n_src // 2, dtype=np.int64),
        "v": rng.integers(0, 1_000_000, n_src).astype(np.int64),
        "tag": np.asarray(KV_TAGS, dtype=object)[rng.integers(0, 16, n_src)],
    }
    pq.write_table(pa.table(base), os.path.join(data_dir, "kv.parquet"))
    pq.write_table(pa.table(src), os.path.join(data_dir, "kv_src.parquet"))
    as_rows = lambda t, seq: list(zip(t["k"].tolist(), t["v"].tolist(), t["tag"].tolist(), seq))
    return as_rows(base, base["seq"].tolist()), as_rows(src, [None] * n_src)


def dml_stream(seed: int, model: KVModel, src, n_rows: int):
    """Endless seeded stream of ~half writes (INSERT VALUES, INSERT SELECT
    upsert, UPDATE, DELETE) interleaved with point and aggregate SELECTs. A
    hot tenth of the keys takes 80% of the updates. `model` starts as the
    base table and advances as statements are drawn, so each statement's
    `expect` is the model's answer at that point of the stream."""
    rng = random.Random(seed)
    hot = rng.sample(range(n_rows), max(1, n_rows // 10))
    next_key = n_rows + len(src)
    kinds: list[str] = []
    for i in itertools.count():
        seq = i + 1
        sid = f"dml:{i:03d}"
        live = list(model.rows)
        if not kinds:
            kinds = list(DML_BLOCK)
            rng.shuffle(kinds)
            if i == 0:
                # start with a write, so no read lands on the base table's
                # lazy merge-on-read view, which only some seeds would hit
                kinds.append(kinds.pop(kinds.index("insert")))
        kind = kinds.pop()
        if kind == "insert":
            keys = [next_key + j for j in range(3)] + rng.sample(live, 2)
            next_key += 3
            batch = [(k, rng.randrange(1_000_000), rng.choice(KV_TAGS), seq) for k in keys]
            values = ", ".join(f"({k}, {v}, '{t}', {s})" for k, v, t, s in batch)
            text = f"INSERT INTO kv (k, v, tag, seq) VALUES {values}"
            op, expect = "insert", canon_rows(["affected_rows"], [(model.upsert(batch),)])
        elif kind == "upsert":
            width = min(200, len(src) // 2)
            lo = src[rng.randrange(len(src) - width)][0]
            hi = lo + width - 1
            batch = [(k, v, t, seq) for k, v, t, _ in src if lo <= k <= hi]
            text = (f"INSERT INTO kv SELECT k, v, tag, {seq} AS seq FROM kv_src "
                    f"WHERE k BETWEEN {lo} AND {hi}")
            op, expect = "insert", canon_rows(["affected_rows"], [(model.upsert(batch),)])
        elif kind == "update":
            keys = sorted({rng.choice(hot) if rng.random() < 0.8 else rng.choice(live)
                           for _ in range(10)})
            delta = rng.randrange(1, 100)
            text = f"UPDATE kv SET v = v + {delta} WHERE k IN ({', '.join(map(str, keys))})"
            op, expect = "update", canon_rows(["affected"], [(model.update_add(keys, delta),)])
        elif kind == "delete":
            keys = sorted(rng.sample(live, 5))
            text = f"DELETE FROM kv WHERE k IN ({', '.join(map(str, keys))})"
            op, expect = "delete", canon_rows(["affected"], [(model.delete(keys),)])
        elif kind == "point":
            keys = sorted({rng.choice(hot) if rng.random() < 0.5 else rng.randrange(next_key)
                           for _ in range(5)})
            text = f"SELECT k, v, tag, seq FROM kv WHERE k IN ({', '.join(map(str, keys))})"
            op, expect = "read", model.point(keys)
        else:
            text = "SELECT tag, count(*) AS n, sum(v) AS s FROM kv GROUP BY tag"
            op, expect = "read", model.by_tag()
        yield Statement(sid, op, text, expect, family=kind)


def setup_kv(engine, data_dir: str) -> None:
    """Create `kv` as a UNIQUE_KEYS table and register `kv_src`."""
    spark = engine.spark
    engine.create_table(spark.read.parquet(os.path.join(data_dir, "kv.parquet")), "kv",
                        keys_type="UNIQUE_KEYS", keys=["k"], sequence_col="seq")
    spark.read.parquet(os.path.join(data_dir, "kv_src.parquet")).createOrReplaceTempView("kv_src")
