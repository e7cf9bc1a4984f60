"""Benchmark of doris_spark: one workload, one seed, one process.

    python3 perfbench/run.py --workload sql_lane --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from the seed inside the checkout, sets the
engine up on `local[4]` (JVM start included), then runs whole passes of the workload's statements with one closed-loop
client until `--seconds` have passed. Every result is checked outside the
timer. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
# Statements between two runs of the drift control. The machine's speed
# drifts by up to a quarter within minutes; sampling the control throughout
# the pass lets the *_over_control metrics cancel that drift. One control
# run itself varies by ~15%, so it is sampled densely: on eight sql_lane
# seeds, a control every 2 statements instead of 4 cut the spread of
# total_over_control from 10% to 4%.
CONTROL_EVERY = 2
# `control_s` of a calm 4-vCPU machine (BASELINE.md). `setup_s` is the set-up
# wall time rescaled to this control time by the control runs right after
# the set-up: raw set-up time moved by 30% between a busy and a calm hour,
# while the control moved with it.
REF_CONTROL_S = 0.40

# workload -> scale factor of its generated fixture tables
WORKLOADS = {"sql_lane": 0.01, "dml_mixed": 0.001}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    # inclusive: interpolated inside the sample, never beyond its maximum
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else _median(xs)


def _rss_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under `work`."""
    for d in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # A 1 GB heap, committed at start (-Xms below): the JVM's resident size
    # then follows what the run touches, not when the collector grew the heap.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


class Context:
    """What a statement runs against: session, Engine, generated tables."""

    def __init__(self, spark, engine, data_dir, queries):
        self.spark, self.engine, self.data_dir, self.queries = spark, engine, data_dir, queries


def execute(ctx: Context, st, span=lambda name: nullcontext()):
    """Run one statement and collect it: (DataFrame, columns, rows)."""
    if st.kind == "builder":
        with span("queries.builder"):
            df = ctx.queries[st.text](ctx.spark, ctx.data_dir)
    else:
        df = ctx.engine.sql(st.text)
    with span("exec.collect"):
        rows = [tuple(r) for r in df.collect()]
    return df, df.columns, rows


def setup_once(spark, workload: str, data_dir: str, queries) -> Context:
    """Set-up on one session: Doris function surface, table registration,
    warm-up of the JVM, parquet footers and the Python UDF workers."""
    from pyspark.sql import functions as F

    from doris_spark.engine import Engine
    from workloads import setup_kv

    engine = Engine(spark)  # prepare_session: the Doris function surface
    engine.register_parquet_dir(data_dir)
    if workload == "dml_mixed":
        setup_kv(engine, data_dir)
    queries["tpch_q1"](spark, data_dir).collect()
    spark.range(32).select(F.pandas_udf(lambda s: s, "long")("id")).collect()
    return Context(spark, engine, data_dir, queries)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def statement_stream(workload: str, seed: int, ctx: Context, queries, oracles, trace: bool, kv):
    """(endless statement iterator, statements per pass, known failures,
    final-state checker). `kv` is the dml_mixed (base, source) rows."""
    import workloads as W

    if workload == "sql_lane":
        timed, known = W.sql_lane_statements(queries, oracles, ctx.data_dir, with_known=trace)
        rng = random.Random(seed)

        def cycle():
            while True:
                order = list(timed)
                rng.shuffle(order)
                yield from order

        return cycle(), len(timed), known, None
    model = W.KVModel()
    base, src = kv
    model.upsert(base)

    def final_state():
        got = ctx.engine.table("kv").select("k", "v", "tag", "seq").toArrow().to_pydict()
        rows = dict(zip(got["k"], zip(got["v"], got["tag"], got["seq"])))
        return len(rows) == len(got["k"]) and rows == model.rows

    return W.dml_stream(seed, model, src, W.KV_ROWS), len(W.DML_BLOCK), [], final_state


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    _isolate(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # ---- set-up, part 1: the package's imports (pyspark among them) and
    # its query registration
    t_process = time.perf_counter()
    import doris_spark.engine  # noqa: F401
    from doris_spark import queries as Q  # fails fast outside a checkout
    from doris_spark import session

    Q.load_all()
    import_s = time.perf_counter() - t_process

    import datagen
    import workloads as W
    from tracing import Tracer, catalyst_phases, job_stats, plan_counts, plan_passes

    datagen.write(args.sf or WORKLOADS[args.workload], args.seed, data_dir)
    kv = W.kv_tables(args.seed, W.KV_ROWS, data_dir) if args.workload == "dml_mixed" else None
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.instrument_session()
    span = tracer.span if tracer else (lambda name: nullcontext())

    # ---- set-up, part 2, once: a set-up on a running JVM would cost ~7 s
    # more per set-up, which a run of ~45 s cannot carry when the machine
    # slows down. Input generation and the oracle stay outside it.
    t0 = time.perf_counter()
    with span("session.setup"):
        spark = session.get_spark("perfbench", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        ctx = setup_once(spark, args.workload, data_dir, Q.QUERIES)
    setup_wall_s = import_s + time.perf_counter() - t0
    sc = spark.sparkContext
    jvm = getattr(sc._gateway, "proc", None)
    pids = [os.getpid()] + ([jvm.pid] if jvm is not None else [])
    rss = [sum(_rss_mb(p) for p in pids)]

    def control():
        t = time.perf_counter()
        Q.QUERIES["control_fixed_cpu_burn"](spark, data_dir).collect()
        return time.perf_counter() - t

    control()  # untimed: its first run on the session compiles its plan
    controls = [control() for _ in range(3)]
    setup_control_s = _median(controls)
    stream, pass_len, known, final_state = statement_stream(
        args.workload, args.seed, ctx, Q.QUERIES, Q.ORACLES, bool(args.trace), kv)

    def one(st, traced: bool, n: int):
        """Time one statement; check it and (traced) probe it outside the timer."""
        rec = {"st": st, "err": None, "traced": traced}
        if tracer:
            tracer.paused = not traced
        if traced:
            tracer.sid = f"{st.sid}#{n}"
            sc.setJobGroup(tracer.sid, st.sid)
        t0 = time.perf_counter()
        try:
            df, cols, rows = execute(ctx, st, span if traced else (lambda name: nullcontext()))
        except Exception as exc:  # counted as an error, the run goes on
            rec["err"] = f"error: {type(exc).__name__}: {str(exc)[:200]}"
            df = None
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        if traced:
            sc.setJobGroup(None, None)
        rss.append(sum(_rss_mb(p) for p in pids))
        if df is not None:
            rec["err"] = W.check(st, cols, rows)
            rec["affected"] = rows[0][0] if st.is_write and rows else 0
        if traced:
            rec["top_ms"] = tracer.top_level_ms(tracer.sid)
            rec["spark_sql_calls"] = tracer.count("catalyst.spark_sql", tracer.sid)
            rec["engine_ms"] = tracer.duration_ms("engine.sql", tracer.sid)
            rec["builder_ms"] = tracer.duration_ms("queries.builder", tracer.sid)
            rec["collect_ms"] = tracer.duration_ms("exec.collect", tracer.sid)
            tracer.sid = None
            tracer.paused = True
            rec.update(job_stats(sc, f"{st.sid}#{n}", rec["ms"]))
            if df is not None:
                rec.update(catalyst_phases(df))
                rec.update(plan_counts(df))
            if st.kind != "builder":
                rec.update(plan_passes(st.text))
            if st.is_write:
                rec["snapshot_rows"] = ctx.engine.table("kv").count()
        spark.catalog.clearCache()
        return rec

    def measure(trace: bool, seconds: float):
        """Closed loop of whole passes until `seconds` passed. With `trace`,
        half of each statement family is traced in a pass: a family's
        occurrences alternate, shifted by its rank and by the pass number, so
        over a pair of passes each family runs as often traced as not (on
        sql_lane, where a family is one statement, each statement runs once
        each way). A traced run therefore ends on an even number of passes."""
        recs, passes, cur, n = [], [], 0.0, 0
        rank, seen = {}, {}  # family -> rank by first appearance / occurrences in this pass
        start = time.perf_counter()
        for st in stream:
            if n % CONTROL_EVERY == CONTROL_EVERY - 1:
                controls.append(control())  # tracks drift of the machine
            k = seen.get(st.family, 0)
            seen[st.family] = k + 1
            traced = trace and (rank.setdefault(st.family, len(rank)) + k + len(passes)) % 2 == 0
            rec = one(st, traced, n)
            recs.append(rec)
            cur += rec["ms"] / 1e3
            n += 1
            if n % pass_len == 0:
                passes.append(cur)
                cur, seen = 0.0, {}
                if time.perf_counter() - start >= seconds and not (trace and len(passes) % 2):
                    return recs, passes

    if args.trace:
        tracer.close()
        tracer.instrument_engine(spark)
        recs, passes = measure(True, args.seconds)
        tracer.close()
        known_failed = sum(one(st, False, 0)["err"] is not None for st in known)
    else:
        recs, passes = measure(False, args.seconds)
    controls += [control(), control()]
    state_ok = final_state() if final_state else True
    if tracer:
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"))
    stop_spark(spark)

    # ---- results
    attempted = len(recs)
    bad = [r for r in recs if r["err"] is not None]
    reads = [r["ms"] for r in recs if not r["st"].is_write]
    writes = [r["ms"] for r in recs if r["st"].is_write]
    total_s = _median(passes)
    control_s = _median(controls)
    e2e = {
        "setup_s": (setup_wall_s * REF_CONTROL_S / setup_control_s, "s"),
        "total_over_control": (total_s / control_s, "ratio"),
        # geometric mean, as in TPC-H's power metric: the median of a pass's
        # few, unlike statements jumps between neighbours ~10% apart
        "latency_gmean_over_control": (statistics.geometric_mean(reads) / 1e3 / control_s, "ratio"),
        "peak_rss_mb": (max(rss), "MB"),
    }
    info = {
        "setup_wall_s": (setup_wall_s, "s"),
        "total_s": (total_s, "s"),
        "latency_gmean_ms": (statistics.geometric_mean(reads), "ms"),
        "latency_p50_ms": (_median(reads), "ms"),
        "latency_p90_ms": (_p90(reads), "ms"),
        "control_s": (control_s, "s"),
        "failed_ratio": (len(bad) / attempted, "ratio"),
        "write_p50_ms": (_median(writes), "ms"),
        "write_p90_ms": (_p90(writes), "ms"),
        "read_samples": (len(reads), "count"),
        "write_samples": (len(writes), "count"),
        "passes": (len(passes), "count"),
        "process_s": (time.perf_counter() - t_process, "s"),
    }
    metrics = e2e
    if args.trace:
        metrics = per_layer(recs, len(passes), tracer, control_s, known_failed)
    for r in bad[:10]:
        print(f"FAILED {r['st'].sid}: {r['err']}", file=sys.stderr)
    if not state_ok:
        print("FAILED final table state differs from the model", file=sys.stderr)
    shown = {**e2e, **info} if not args.trace else metrics
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: " + ", ".join(
        f"{k}={v:.6g} {u}" for k, (v, u) in shown.items()))
    return {
        "correct": not bad and state_ok,
        "attempted": attempted,
        "failed": len(bad) + (not state_ok),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer(all_recs, n_passes, tracer, control_s, known_failed) -> dict:
    """Per-layer metrics of a traced run, from its traced statements (means
    are per statement)."""
    recs = [r for r in all_recs if r["traced"]]

    def mean(key, pick=lambda r: True):
        xs = [r[key] for r in recs if key in r and pick(r)]
        return statistics.fmean(xs) if xs else 0.0

    def kind(*kinds):
        return lambda r: r["st"].kind in kinds

    n = len(recs)
    writes = [r for r in recs if r["st"].is_write]
    sql_stmts = [r for r in recs if r["st"].kind != "builder"]
    self_ms = tracer.self_ms_by_layer()
    wall_ms = sum(r["ms"] for r in recs)
    setup = tracer.setup_breakdown()
    out = {
        "session.get_spark_s": (setup["session.get_spark"], "s"),
        "session.prepare_session_s": (setup["session.prepare_session"], "s"),
        "session.load_tables_s": (setup["session.load_tables"], "s"),
        "engine.sql_ms": (mean("engine_ms", lambda r: r["st"].kind != "builder"), "ms"),
        "engine.spark_sql_calls": (
            sum(r["spark_sql_calls"] for r in sql_stmts) / len(sql_stmts) if sql_stmts else 0.0, "count"),
        "engine.insert_ms": (mean("ms", kind("insert")), "ms"),
        "engine.update_ms": (mean("ms", kind("update")), "ms"),
        "engine.delete_ms": (mean("ms", kind("delete")), "ms"),
        "engine.write_p50_ms": (_median([r["ms"] for r in writes]), "ms"),
        "engine.write_p90_ms": (_p90([r["ms"] for r in writes]), "ms"),
        "plans.dialect_ms": (mean("dialect_ms"), "ms"),
        "plans.macros_ms": (mean("macros_ms"), "ms"),
        "plans.typed_arith_ms": (mean("typed_arith_ms"), "ms"),
        "plans.passes_changed": (mean("passes_changed"), "count"),
        "queries.builder_ms": (mean("builder_ms", kind("builder")), "ms"),
        "catalyst.parsing_ms": (mean("parsing"), "ms"),
        "catalyst.analysis_ms": (mean("analysis"), "ms"),
        "catalyst.optimization_ms": (mean("optimization"), "ms"),
        "catalyst.planning_ms": (mean("planning"), "ms"),
        "exec.collect_ms": (mean("collect_ms"), "ms"),
    }
    for k in ("jobs", "stages", "tasks"):
        out[f"exec.{k}"] = (mean(k), "count")
    for k in ("job_wall_ms", "driver_gap_ms", "executor_cpu_ms"):
        out[f"exec.{k}"] = (mean(k), "ms")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{k}"] = (mean(k), "bytes")
    for k in ("exchanges", "pushed_filter_scans", "python_eval_nodes"):
        out[f"plan.{k}"] = (mean(k), "count")
    affected = sum(r.get("affected", 0) for r in writes)
    snap = sum(r.get("snapshot_rows", 0) for r in writes)
    out["dml.snapshot_rows"] = (mean("snapshot_rows"), "rows")
    out["dml.rows_materialized_per_row_changed"] = (snap / affected if affected else 0.0, "ratio")
    errors = sum(1 for r in recs if r["err"] and r["err"].startswith("error:"))
    mismatches = sum(1 for r in recs if r["err"]) - errors
    out["oracle.mismatches"] = (mismatches, "count")
    out["oracle.errors"] = (errors, "count")
    out["oracle.known_failures"] = (known_failed, "count")
    out["oracle.failed_ratio"] = ((mismatches + errors) / n, "ratio")
    for layer in ("engine", "plans", "queries", "catalyst", "exec"):
        out[f"{layer}.self_ms"] = (self_ms.get(layer, 0.0) / n, "ms")
    # per pass: for each family, (mean traced - mean untraced) x its count
    by_family: dict[str, tuple[list, list]] = {}
    for r in all_recs:
        by_family.setdefault(r["st"].family, ([], []))[not r["traced"]].append(r["ms"])
    overhead_ms = sum((statistics.fmean(t) - statistics.fmean(u)) * (len(t) + len(u))
                      for t, u in by_family.values() if t and u)
    out["trace.overhead_s"] = (overhead_ms / n_passes / 1e3, "s")
    out["trace.top_span_coverage"] = (sum(r["top_ms"] for r in recs) / wall_ms, "ratio")
    out["trace.control_s"] = (control_s, "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated tables (default: the workload's)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "doris_spark")):
        print(f"perfbench: no doris_spark package beside {HERE}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    finally:
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work",
                                   f"{args.workload}-{args.seed}-{os.getpid()}"), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
