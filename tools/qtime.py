"""Time registered queries on a hot session, with their jobs and stages.

Usage: python tools/qtime.py [names...] [--passes N] [--sf DIR] [--sql] [--explain DIR]

Runs one warm-up pass over the named queries (every registered query when
none is named), then N hot passes (default 5). For each query it prints the
median and quartiles of its pass seconds, and the Spark jobs and stages
(counted by job group) and the Janino compilations (`compiles`, counted by
Spark's `CodegenMetrics`) of its last pass. With --sql, each query's oracle text
also runs through Engine.sql (`queries.run_sql`, the path of a SQL-text
query), alternating with the builder: which side runs first flips every
pass. A query that fails prints its error instead of times.
--explain DIR writes each query's formatted plan to DIR/<name>.txt and,
with --sql, its oracle text's plan through Engine.sql to DIR/<name>.sql.txt.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import doris_spark through PYTHONPATH, not this
# process's sys.path; the JVM that forks them starts in get_spark and
# inherits it.
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from doris_spark import queries as Q
from doris_spark.session import get_spark


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(median, Q1, Q3) of the pass seconds."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def main() -> None:
    args = sys.argv[1:]
    passes = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    explain = None
    with_sql = False
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--passes":
            passes = int(args[i + 1]); i += 2
        elif a == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif a == "--sql":
            with_sql = True; i += 1
        elif a == "--explain":
            explain = args[i + 1]; i += 2
        else:
            names.append(a); i += 1
    Q.load_all()
    names = names or sorted(Q.QUERIES)
    unknown = [n for n in names if n not in Q.QUERIES]
    if unknown:
        print("unknown:", unknown); sys.exit(1)
    spark = get_spark("qtime")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracker = sc.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    Q.warm_up(spark, sf_dir)

    runners = {"builder": lambda n: Q.QUERIES[n](spark, sf_dir)}
    if with_sql:
        missing = [n for n in names if n not in Q.ORACLES]
        if missing:
            print("no oracle:", missing); sys.exit(1)
        runners["sql"] = lambda n: Q.run_sql(spark, sf_dir, Q.ORACLES[n])
    secs = {(n, side): [] for n in names for side in runners}
    jobs: dict[tuple[str, str], tuple[int, int, int]] = {}
    errors: dict[tuple[str, str], str] = {}

    def run(name: str, side: str, p: int) -> None:
        key = (name, side)
        if key in errors:
            return
        group = f"qtime:{name}:{side}:{p}"
        sc.setJobGroup(group, group)
        compiled = codegen.getCount()
        t0 = time.perf_counter()
        try:
            runners[side](name).collect()
            sec = time.perf_counter() - t0
        except Exception as exc:  # report it and keep timing the rest
            errors[key] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:120]}"
            return
        finally:
            sc.setJobGroup(None, None)
            spark.catalog.clearCache()
        if p > 0:
            secs[key].append(sec)
        job_ids = tracker.getJobIdsForGroup(group)
        stages = sum(len(info.stageIds) for info in map(tracker.getJobInfo, job_ids) if info)
        jobs[key] = (len(job_ids), stages, codegen.getCount() - compiled)

    sides = list(runners)
    for p in range(passes + 1):  # pass 0 is the warm-up
        for name in names:
            for side in sides if p % 2 == 0 else sides[::-1]:
                run(name, side, p)

    print(f"{'query':32s} {'side':8s} {'median':>8s} {'q1':>8s} {'q3':>8s} {'jobs':>5s} {'stages':>6s}"
          f" {'compiles':>8s}")
    for name in names:
        for side in sides:
            key = (name, side)
            if key in errors:
                print(f"{name:32s} {side:8s} error {errors[key]}")
                continue
            med, q1, q3 = quartiles(secs[key])
            n_jobs, n_stages, compiles = jobs[key]
            print(f"{name:32s} {side:8s} {med:8.3f} {q1:8.3f} {q3:8.3f} {n_jobs:5d} {n_stages:6d}"
                  f" {compiles:8d}")
    if explain:
        os.makedirs(explain, exist_ok=True)
        suffix = {"builder": "", "sql": ".sql"}
        for name in names:
            for side in sides:
                df = runners[side](name)
                with open(os.path.join(explain, f"{name}{suffix[side]}.txt"), "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
                spark.catalog.clearCache()


if __name__ == "__main__":
    main()
