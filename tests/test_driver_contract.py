"""Driver-contract simulation: queries() must run on a VANILLA SparkSession.

The driver imports __spark_entry__ and calls entry()/queries() callables with
its OWN session — none of get_spark()'s builder-time configs are present.
Round-1 failure mode: every oracle check died at the parquet read
(PARQUET_TYPE_ILLEGAL on events.parquet TIMESTAMP(NANOS)) because the nanos
conf, UTC timezone, and function registry only existed on get_spark()
sessions. prepare_session() (doris_spark/session.py) now derives the
engine's session from any session; this test proves it in a clean
subprocess where no doris_spark session bootstrapping has run: the
queries run with the engine's rules (bounded final sorts, Doris avg
types) and the calling session keeps its own confs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One query per risk class, with its row count at sf0.001: nanos-timestamp
# read, SQL-registry functions, pandas-UDF boundary, plain tpch join/agg,
# text pipeline w/ repartition, and a SQL-text query (queries.sql_query),
# which registers its own views.
_SMOKE = {
    "tpch_q1": 6,
    "ev_tumbling": 868,
    "doris_fn_matrix": 200,
    "json_mutation": 40,
    "txt_langid": 10,
    "ssb_q1_2": 1,
}

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    # Vanilla session: exactly what the driver would build — no doris_spark
    # configs, no UDF registry, default shuffle partitions.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    import __spark_entry__ as e
    from doris_spark.engine import Engine

    df = e.entry(spark)
    assert len(df.collect()) > 0
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert "rangepartitioning" not in final, final

    avg = Engine(spark).sql(
        "SELECT avg(CAST(x AS DECIMAL(10,2))) AS a FROM VALUES (1), (2), (2) AS t(x)")
    assert avg.schema["a"].dataType.simpleString() == "decimal(38,4)"
    assert str(avg.collect()[0]["a"]) == "1.6666"

    qs = e.queries()
    for name, want in {smoke!r}.items():
        out = qs[name](spark, "/root/testdata/sf0.001")
        n = out.count()
        assert n == want, (name, n, want)
        print(f"OK {{name}} rows={{n}}", flush=True)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    print("DRIVER_SIM_PASS", flush=True)
    """
).format(repo=REPO, smoke=_SMOKE)


def test_queries_run_on_vanilla_session():
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SF_DIR", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert "DRIVER_SIM_PASS" in proc.stdout, (
        f"stdout:\n{proc.stdout[-3000:]}\n\nstderr:\n{proc.stderr[-3000:]}"
    )
