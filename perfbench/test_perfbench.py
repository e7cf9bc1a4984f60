"""Self-test of the benchmark at sf0.001.

    python3 -m pytest perfbench -q -p no:cacheprovider

Checks that every metric named in BENCHMARK.json prints with its unit, that
the oracle check rejects a deliberately altered row, that the dml_mixed
model agrees with the engine on a short stream, and that the benchmark
refuses to run without the package it measures.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKDIR = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")


@pytest.fixture(scope="module")
def workdir():
    os.makedirs(WORKDIR, exist_ok=True)
    yield WORKDIR
    shutil.rmtree(WORKDIR, ignore_errors=True)


def _bench(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [("sql_lane", 0), ("dml_mixed", 1)])
def test_every_metric_prints_with_its_unit(workload, trace):
    """sql_lane untraced prints the end-to-end set; dml_mixed traced prints
    the per-layer set and, since every read and the final table state are
    checked against the Python model, `correct` means the model and the
    engine agree on the stream."""
    proc = _bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-2000:]
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    summary = proc.stdout.strip().splitlines()[-2]
    for m in declared:
        assert f"{m['name']}=" in summary and m["unit"] in summary


def test_oracle_check_rejects_altered_row(workdir):
    sf_dir = datagen.write(0.001, 3, os.path.join(workdir, "sf"))
    from doris_spark import queries as Q

    Q.load_all()
    timed, _ = W.sql_lane_statements(Q.QUERIES, Q.ORACLES, sf_dir)
    st = next(s for s in timed if s.sid == "builder:tpch_q1")
    cols, rows = st.expect
    rows = [list(r) for r in rows]
    assert W.check(st, cols, [tuple(r) for r in rows]) is None
    rows[0][cols.index("sum_qty")] += 1.0
    assert W.check(st, cols, [tuple(r) for r in rows]) == "values differ"
    assert W.check(st, cols, [tuple(r) for r in rows[1:]]) is not None


def test_dml_model_follows_its_stream(workdir):
    """The model side of the dml_mixed check: upserts keep the highest
    sequence, updates keep it, deletes drop the key; reads see that."""
    os.makedirs(os.path.join(workdir, "kv"), exist_ok=True)
    base, src = W.kv_tables(3, 1000, os.path.join(workdir, "kv"))
    model = W.KVModel()
    model.upsert(base)
    stream = W.dml_stream(3, model, src, 1000)
    kinds = [next(stream).kind for _ in range(len(W.DML_BLOCK))]
    assert sorted(kinds) == sorted(k if k in ("update", "delete") else
                                   "insert" if k in ("insert", "upsert") else "read"
                                   for k in W.DML_BLOCK)
    m = W.KVModel()
    m.upsert([(1, 10, "a", 1), (1, 20, "b", 3), (1, 30, "c", 2)])
    assert m.rows[1] == (20, "b", 3)
    assert m.update_add([1, 2], 5) == 1 and m.rows[1] == (25, "b", 3)
    assert m.delete([1]) == 1 and m.point([1]) == (["k", "seq", "tag", "v"], [])


def test_refuses_to_run_without_the_package(workdir):
    bare = os.path.join(workdir, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = _bench("sql_lane", 0, cwd=bare)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
