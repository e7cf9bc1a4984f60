"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

`value` splits into two lanes: `sql_text_sec`, the queries registered as
one SQL text (`queries.sql_query`, run through Engine.sql), and
`builder_sec`, the hand-built DataFrame builders. `control_sec` is the
time of `control_fixed_cpu_burn`, to divide totals by when comparing runs.

Each query is executed with a count-style action (collect) after a warm-up of
the session; timings are per-query wall clock, hot JVM, MIN of two
back-to-back passes — single-pass totals on this box swing +/-25% on
identical code (VERDICT r9: 167.6 s vs 209.4 s same-commit), which masked
real regressions; the per-query min is load-robust.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# Python UDF workers import doris_spark through PYTHONPATH, not this
# process's sys.path; the JVM that forks them starts in get_spark and
# inherits it.
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from doris_spark import queries as Q
from doris_spark.session import get_spark

# Headline set: run everything that's registered.
def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Q.load_all()
    spark = get_spark("doris_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Cold start excluded, matching the reference's hot-run gates in
    # BASELINE.md.
    Q.warm_up(spark, sf_dir)

    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings: dict[str, float] = {}
    pass_totals: list[float] = []
    failures: list[str] = []
    for pno in range(max(1, n_passes)):
        ptotal = 0.0
        for name in sorted(Q.QUERIES):
            t0 = time.perf_counter()
            try:
                Q.QUERIES[name](spark, sf_dir).collect()
            except Exception as exc:  # one broken query must not cost the run
                if pno == 0:
                    failures.append(f"{name}: {type(exc).__name__}")
                continue
            finally:
                sec = round(time.perf_counter() - t0, 3)
                ptotal += sec
                if name not in timings or sec < timings[name]:
                    timings[name] = sec
                # Queries may persist() intermediates for their own
                # execution; drop them so later timings aren't skewed by
                # dead-block GC.
                spark.catalog.clearCache()
        pass_totals.append(round(ptotal, 3))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The driver captures a bounded tail of stdout; keep the printed JSON
    # line short (22 TPC-H timings + per-family rollups) and write the full
    # per-query map to bench_full.json beside this script.
    groups: dict[str, float] = {}
    for name, sec in timings.items():
        g = name.split("_", 1)[0]
        groups[g] = round(groups.get(g, 0.0) + sec, 3)
    total = sum(timings.values())
    # sql_query registers a lambda defined in the queries package itself.
    sql_text = sum(sec for name, sec in timings.items() if Q.QUERIES[name].__module__ == Q.__name__)
    out = {
        "metric": "headline_queries_total_hot",
        "value": round(total, 3),
        "sql_text_sec": round(sql_text, 3),
        "builder_sec": round(total - sql_text, 3),
        "control_sec": timings["control_fixed_cpu_burn"],
        "unit": "sec",
        "protocol": f"per-query min of {max(1, n_passes)} hot passes",
        "pass_totals": pass_totals,
        "n_queries": len(timings),
        "queries": {k: v for k, v in timings.items() if k.startswith("tpch_")},
        "groups": groups,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if failures:
        out["failures"] = failures
    full = dict(out)
    full["queries"] = timings
    # Sidecar path is overridable so test runs (tests/test_bench_contract.py
    # drives bench.py at sf0.001) don't clobber the committed sf0.1 sidecar.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(ROOT, "bench_full.json"),
    )
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh)
    except OSError:
        pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
