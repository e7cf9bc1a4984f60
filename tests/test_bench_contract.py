"""bench.py must print exactly one JSON line with the driver's schema."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_bench_json_contract():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    # one timed pass: the assertions check the JSON contract, not timings
    env["SPARK_GRAFT_BENCH_PASSES"] = "1"
    # Write the full-map sidecar to a temp path so this test never
    # clobbers the committed sf0.1 bench_full.json (VERDICT r11 #4).
    import tempfile
    sidecar = os.path.join(tempfile.mkdtemp(prefix="bench_contract_"), "bench_full.json")
    env["SPARK_GRAFT_BENCH_FULL"] = sidecar
    out = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, f"expected one JSON line, got {len(lines)}"
    d = json.loads(lines[0])
    assert set(d) >= {"metric", "value", "unit", "queries", "sf"}
    assert d["unit"] == "sec" and d["value"] > 0
    # The printed line must stay within the driver's bounded stdout tail
    # (~3000 chars): TPC-H per-query timings + per-family rollups only.
    assert len(lines[0]) < 2500, f"JSON line too long: {len(lines[0])}"
    assert len(d["queries"]) == 22  # tpch_q1..q22
    assert all(k.startswith("tpch_") for k in d["queries"])
    assert d["n_queries"] >= 80
    assert d["sf"] == 0.001
    # The SQL-text and builder lanes split the total; the control divides it.
    assert abs(d["sql_text_sec"] + d["builder_sec"] - d["value"]) <= 0.002
    assert d["sql_text_sec"] > 0 and d["builder_sec"] > 0
    assert d["control_sec"] > 0
    # Full per-query map goes to the sidecar file.
    with open(sidecar) as fh:
        full = json.load(fh)
    assert len(full["queries"]) == d["n_queries"]
