"""TPC-DS / TPC-H portable-parity gates (tools/tpc_duck_parity.py).

The reference's tpcds_sf1_p1 and tpch_sf0.1_p1 goldens were produced
from the OFFICIAL TPC binaries whose text pools diverge from DuckDB's
bundled (spec-conformant) dbgen/dsdgen, so golden bytes are unreachable
offline for data-dependent rows. These gates prove the stronger
portable claim at an affordable scale: for every suite query text, the
engine and DuckDB — two independent SQL implementations — produce the
SAME result on the SAME official-spec dataset.

Full-scale runs (recorded in NOTES.md, reproducible via the tool):
TPC-DS sf1 101/101 (+3 disabled-by-reference), TPC-H sf0.1 22/22.
The pytest gates rerun the identical harness at sf0.01.
"""

import json
import os
import subprocess
import sys
import pytest

from tools.tpc_duck_parity import SUITE

# Hour-scale replay tier: excluded from the default (driver/CI) run by
# pytest.ini's `-m "not slow"`; run with `-m ""` for the full battery.
# The suites replay the reference checkout, so they skip without it.
pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(not os.path.isdir(SUITE), reason="reference checkout absent"),
]


def _run_parity(args, out_path, timeout=900):
    env = dict(os.environ, RS_OUT=out_path, TPC_SF="0.01")
    proc = subprocess.run(
        [sys.executable, "tools/tpc_duck_parity.py", *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        env=env,
    )
    line = next(
        (
            ln
            for ln in proc.stdout.splitlines()
            if ln.startswith("tpcds-duck-parity:")
        ),
        None,
    )
    assert line is not None, proc.stdout[-2000:] + proc.stderr[-2000:]
    return line, json.load(open(out_path))


def test_tpcds_sf001_parity_full_green():
    line, res = _run_parity([], "/tmp/gate_tpcds_parity.json")
    assert res["total"] >= 101, line
    assert res["passed"] >= res["total"], line + "\n" + json.dumps(
        res["failures"][:8], indent=1
    )


def test_tpch_sf001_parity_full_green():
    line, res = _run_parity(
        ["--suite", "tpch"], "/tmp/gate_tpch_parity.json"
    )
    assert res["total"] >= 22, line
    assert res["passed"] >= res["total"], line + "\n" + json.dumps(
        res["failures"][:8], indent=1
    )
