"""Session bootstrap + table catalog.

Reference analog: Doris FE session/catalog (fe/fe-core/.../qe/ConnectProcessor.java,
fe/fe-core/.../catalog/InternalCatalog.java). Here the SparkSession *is* the
engine: parser/analyzer/optimizer/scheduler are Spark SQL + Catalyst, so this
module only configures the session for OLAP-style workloads and registers the
fixture tables as views.

Scale notes (100 TB design intent, tested at local[32]):
- AQE on: runtime coalescing, skew-join splitting, dynamic join-strategy demotion
  (Doris analog: adaptive passthrough exchange + SkewJoin rewrite,
  be/src/exec/exchange/local_exchanger.h, nereids/rules/rewrite/SkewJoin.java).
- Bloom runtime filters + DPP on: Doris runtime-filter analog
  (nereids/processor/post/RuntimeFilterGenerator.java).
- Broadcast threshold left at default; per-join `F.broadcast` hints are placed
  explicitly on known-small dimensions (region/nation/supplier) in queries.
"""

from __future__ import annotations

import os
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from doris_spark import jvm

# Tables shipped by the driver (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at ANY scale factor (bounded cardinality:
# 5 regions, 25 nations — TPC-H fixes these; suppliers/parts grow with SF).
ALWAYS_BROADCAST = ("region", "nation")


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def driver_cpus() -> int:
    """CPUs this driver process may run on: the size of the thread pools
    that register the function surface and read the tables. Not
    defaultParallelism, which on a cluster counts executor cores."""
    return len(os.sched_getaffinity(0))


def get_spark(app_name: str = "doris_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for analytics, and return the
    engine's session over it (`prepare_session`).

    In production this would run on a multi-executor cluster; locally we use
    local[N]. Every config below is cluster-safe (nothing local-mode-specific
    except the master URL).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Deterministic timestamp semantics: fixture parquet carries naive
        # event-time; pin session tz so Spark and the DuckDB oracle agree.
        .config("spark.sql.session.timeZone", "UTC")
        # --- shuffle sizing (local). On a real cluster this would be
        # spark.sql.shuffle.partitions ≈ 2-3× total cores and AQE coalesces.
        .config("spark.sql.shuffle.partitions", str(cpus))
        # --- AQE: runtime re-planning (coalesce, skew split, join demotion)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- runtime filtering: bloom pushed from build to probe side
        # (Doris RuntimeFilterGenerator analog).
        # NOTE: semiJoinReduction.enabled hangs local parquet reads on this
        # Spark build (verified by bisection) — bloom runtime filter alone is on.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- arrow for pandas UDF exchange (vectorized python boundary)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert (load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return prepare_session(builder.getOrCreate())


def session_token(spark: SparkSession) -> tuple[int, str]:
    """Stable per-session cache key: id() alone can be reused after a
    session is GC'd (a new session with the recycled id would be served
    stale cached state — ADVICE r11); the applicationId disambiguates a
    recycled id across contexts, and id() disambiguates newSession()
    clones sharing one context (separate function registries)."""
    return (id(spark), spark.sparkContext.applicationId)


# (session token, sf_dir) -> table DataFrames. DataFrames are lazy plan
# handles — memoizing them skips repeated footer/schema reads per query
# without pinning any data.
_TABLE_CACHE: dict[tuple[tuple[int, str], str], dict[str, DataFrame]] = {}

# Engine sessions already passed through prepare_session (same keying
# rationale as _TABLE_CACHE).
_PREPARED: set[tuple[int, str]] = set()

# Caller's session token -> (caller's session, the engine session derived
# from it). Holding the caller keeps its id() from being recycled.
_DERIVED: dict[tuple[int, str], tuple[SparkSession, SparkSession]] = {}

# Runtime confs every entry path needs regardless of who built the session.
# All of these are SQLConf runtime-settable (not static/core confs).
_REQUIRED_RUNTIME_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS); the vectorized reader throws
    # PARQUET_TYPE_ILLEGAL without this. Values arrive as long and are
    # floor-converted in _read_parquet.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive event-time in fixtures: pin UTC so Spark and DuckDB agree.
    "spark.sql.session.timeZone": "UTC",
    # Vectorized Arrow exchange for the pandas-UDF boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.adaptive.enabled": "true",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """The engine's session for `spark`: the only way a session enters the
    engine, whoever built it (the queries()/entry() contract passes an
    arbitrary session; nothing guarantees it came from get_spark()).

    The engine's session carries the rules of `doris_spark/jvm` (Doris
    result types in the analyzer, bounded final sorts in AQE), the runtime
    confs the fixture data requires and the Doris function-name surface.
    A session that already carries the rules (a `newSession()` of an
    engine session, say) is prepared in place. Any other session is left
    as it is: the engine session is derived from it (`_derive`), shares
    its catalog and starts from a copy of its confs, functions and temp
    views, and is not made the active session.

    Idempotent: a repeat call with either session returns the same engine
    session object at once, and a call that raises leaves the engine
    session unmarked, so the next call registers again. Registration
    takes 9.1-9.6 s when it is the JVM's first (its parser and analyzer
    not yet compiled) and 2.3-3.0 s on a later session, measured on 4
    vCPUs; deriving takes about 0.1 s.
    """
    if session_token(spark) in _PREPARED:
        return spark
    if session_token(spark) in _DERIVED:
        engine = _DERIVED[session_token(spark)][1]
    elif _has_rules(spark):
        engine = spark
    else:
        engine = _derive(spark)
        _DERIVED[session_token(spark)] = (spark, engine)
    if session_token(engine) in _PREPARED:
        return engine
    for k, v in _REQUIRED_RUNTIME_CONFS.items():
        engine.conf.set(k, v)
    # A foreign session typically has the 200-partition default; size
    # shuffles to the actual core count (AQE coalesces upward cases).
    engine.conf.set("spark.sql.shuffle.partitions", str(engine.sparkContext.defaultParallelism))
    from doris_spark.functions import register_all

    register_all(engine)
    _PREPARED.add(session_token(engine))
    return engine


def _has_rules(spark: SparkSession) -> bool:
    rules = spark._jsparkSession.sessionState().adaptiveRulesHolder().runtimeOptimizerRules()
    return f"{jvm.RULE_MARKER}@" in rules.toString()


def _derive(spark: SparkSession) -> SparkSession:
    """A session over `spark`'s SharedState (one catalog, one cache) that
    starts as a clone of its SessionState, with the extensions listed in
    its `spark.sql.extensions` plus the engine's. `ADD JAR` puts the jar on
    the shared class loader; it changes nothing else of `spark`."""
    jss = spark._jsparkSession
    j = spark._jvm
    loader = jss.sharedState().jarClassLoader()
    if not any(url.getPath() == jvm.JAR for url in loader.getURLs()):
        spark.sql(f"ADD JAR '{jvm.JAR}'")
    exts = j.org.apache.spark.sql.SparkSessionExtensions()
    listed = spark.sparkContext.getConf().get("spark.sql.extensions", "")
    for name in [*filter(None, (n.strip() for n in listed.split(","))), jvm.EXTENSION_CLASS]:
        j.java.lang.Class.forName(name, True, loader).newInstance().apply(exts)
    empty = j.PythonUtils.toScalaMap(j.java.util.HashMap())
    derived = getattr(j, "org.apache.spark.sql.classic.SparkSession")(
        jss.sparkContext(), j.scala.Some(jss.sharedState()), j.scala.Some(jss.sessionState()),
        exts, empty, empty)
    return SparkSession(spark.sparkContext, derived)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load the fixture parquet tables as DataFrames.

    Doris analog: OlapScan over tablets (be/src/exec/operator/olap_scan_operator.h);
    in Spark the parquet scan already gives predicate pushdown, column pruning,
    and row-group stats pruning (zone-map analog) for free.
    """
    spark = prepare_session(spark)
    sf_dir = sf_dir or default_sf_dir()
    key = (session_token(spark), sf_dir)
    if key in _TABLE_CACHE:
        return dict(_TABLE_CACHE[key])
    paths = {name: os.path.join(sf_dir, f"{name}.parquet") for name in TABLES}
    paths = {name: path for name, path in paths.items() if os.path.exists(path)}
    # Each read waits on footer and schema round trips to the JVM; run
    # them side by side, keeping the order of TABLES.
    with ThreadPoolExecutor(max_workers=driver_cpus()) as pool:
        out = dict(zip(paths, pool.map(lambda p: _read_parquet(spark, p), paths.values())))
    _TABLE_CACHE[key] = out
    return dict(out)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition iff the plan's scan parallelism is below the cluster's.

    A small single-row-group parquet file scans as ONE partition, so a
    CPU-heavy per-row pipeline (shingling, hashing, vector math) runs on
    one core no matter how many the cluster has. At 100 TB the scan is
    already thousands of splits and this is a no-op — the repartition
    only fires when input splits < defaultParallelism, i.e. exactly the
    small-input / few-big-gzip-files case where a round-robin shuffle of
    the raw rows is cheap relative to the compute it unlocks.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet; nanosecond timestamps arrive as long (nanosAsLong) and are
    floor-converted to microsecond TimestampType — same truncation DuckDB
    applies when surfacing TIMESTAMP_NS to Python, so oracles agree."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    arrow_schema = pq.read_schema(path)
    casts = {}
    for field in arrow_schema:
        t = str(field.type)
        if t.startswith("timestamp[ns"):
            # Integer division — double division loses precision at 1e18 ns.
            casts[field.name] = F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
        elif t.startswith("timestamp[") and "tz=" not in t:
            # Naive parquet timestamps infer as TIMESTAMP_NTZ on Spark 4,
            # which many chrono functions (unix_micros, numeric casts,
            # window ranges) reject. Session tz is pinned UTC, so casting
            # to the LTZ TimestampType is value-preserving and matches how
            # DuckDB surfaces the same column to the oracle.
            casts[field.name] = F.col(field.name).cast("timestamp")
    if casts:
        df = df.withColumns(casts)
    return df


def register_views(
    spark: SparkSession, sf_dir: str | None = None, text: str | None = None
) -> dict[str, DataFrame]:
    """Register the fixture tables as temp views so spark.sql() can see
    them: every table, or with `text` only those whose names occur in it
    as words. Each registration costs ~4 ms (all ten ~0.1 s), and a word
    match can only register too many, never too few. A DataFrame already
    analyzed keeps the tables it was analyzed against."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        if text is None or re.search(rf"\b{name}\b", text):
            df.createOrReplaceTempView(name)
    return dfs
