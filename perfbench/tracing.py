"""Outside-in tracing of the engine's layers for a traced benchmark run.

Spans (name, start, end, parent, statement id) are kept in memory and written
once when the run ends. They are recorded by wrapping the public entry points
of each layer from outside the package; nothing in `doris_spark` changes.
The probes that read Spark's status store, the query-execution tracker and
the executed plan run after a statement's timer stops.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from doris_spark.engine import Engine

# Layer of a span = the text before the first dot of its name.
_PLAN_PASSES = (
    ("dialect", "doris_spark.plans.dialect", "dialect"),
    ("macros", "doris_spark.plans.sql_macros", "rewrite"),
    ("typed_arith", "doris_spark.plans.typed_arith", "arith_rewrite"),
)
_PYTHON_EVAL = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonMapInArrow)\b")
_EXCHANGE = re.compile(r"\b(Exchange|BroadcastExchange|ShuffleExchange)\b")
_PUSHED = re.compile(r"PushedFilters: \[([^\]]*)\]")


class Tracer:
    """In-memory span recorder with wrappers for module functions and
    methods. `close()` restores every wrapped attribute."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index, sid]
        self._stack: list[int] = []
        self.sid: str | None = None
        self.paused = False  # probes run with recording off
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if self.paused:
            yield
            return
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.sid]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, original))

    def instrument_session(self) -> None:
        """Wrap the session layer's set-up functions."""
        from doris_spark import session

        for fn in ("get_spark", "prepare_session", "load_tables"):
            self.wrap(session, fn, f"session.{fn}")

    def instrument_engine(self, spark) -> None:
        """Wrap Engine's SQL entry points, the SQL front-end passes and the
        session's `sql` method (every Catalyst parse + analysis)."""
        import importlib

        self.wrap(Engine, "sql", "engine.sql")
        self.wrap(Engine, "_insert", "engine.insert")
        self.wrap(Engine, "_dml", "engine.dml")
        for label, mod, fn in _PLAN_PASSES:
            self.wrap(importlib.import_module(mod), fn, f"plans.{label}")
        self.wrap(spark, "sql", "catalyst.spark_sql")

    def close(self) -> None:
        """Restore every wrapped attribute."""
        for owner, attr, original in reversed(self._undo):
            if isinstance(owner, type) or hasattr(owner, "__file__"):
                setattr(owner, attr, original)
            else:  # an instance attribute shadowing a bound method
                delattr(owner, attr)
        self._undo.clear()

    # ---------------------------------------------------------- summaries

    def self_ms_by_layer(self) -> dict[str, float]:
        """Total self time per layer: span duration minus the part its
        direct children cover."""
        child = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            out[name.split(".", 1)[0]] += (end - start - child[i]) * 1e3
        return dict(out)

    def setup_breakdown(self) -> dict[str, float]:
        """Seconds spent in each session function during set-up (nested
        calls of one function counted once, at the outermost)."""
        out = dict.fromkeys(("session.get_spark", "session.prepare_session", "session.load_tables"), 0.0)
        for name, start, end, parent, sid in self.spans:
            if name not in out or sid is not None:
                continue
            p = parent
            while p is not None and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p is None:
                out[name] += end - start
        return out

    def top_level_ms(self, sid: str) -> float:
        return sum((e - s) * 1e3 for _, s, e, p, x in self.spans if x == sid and p is None)

    def count(self, name: str, sid: str) -> int:
        return sum(1 for n, _, _, _, x in self.spans if n == name and x == sid)

    def duration_ms(self, name: str, sid: str) -> float:
        return sum((e - s) * 1e3 for n, s, e, _, x in self.spans if n == name and x == sid)

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "sid")
        with open(path, "w") as fh:
            json.dump([dict(zip(keys, s)) for s in self.spans], fh)


# -------------------------------------------------------------- probes


def plan_passes(text: str) -> dict[str, float]:
    """Call each SQL front-end pass alone on `text`; their ms and how many
    changed the text."""
    import importlib

    out: dict[str, float] = {"passes_changed": 0}
    for label, mod, fn in _PLAN_PASSES:
        f = getattr(importlib.import_module(mod), fn)
        t0 = time.perf_counter()
        try:
            res = f(text)
        except Exception:  # a pass that rejects the text changed nothing
            res = text
        out[f"{label}_ms"] = (time.perf_counter() - t0) * 1e3
        out["passes_changed"] += res != text
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) from the QueryExecution tracker."""
    out = {p: 0.0 for p in ("parsing", "analysis", "optimization", "planning")}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def plan_counts(df) -> dict[str, int]:
    """Exchanges, scans with a pushed filter beyond IsNotNull, and Python
    evaluation nodes in the executed (final adaptive) plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    pushed = 0
    for m in _PUSHED.finditer(plan):
        filters = [f for f in re.split(r",\s*(?![^()]*\))", m.group(1)) if f.strip()]
        pushed += any(not f.strip().startswith("IsNotNull") for f in filters)
    return {
        "exchanges": sum(bool(_EXCHANGE.search(line)) for line in plan.splitlines()),
        "pushed_filter_scans": pushed,
        "python_eval_nodes": len(_PYTHON_EVAL.findall(plan)),
    }


def job_stats(sc, group: str, wall_ms: float) -> dict[str, float]:
    """Jobs, stages, tasks, job wall time (union of job intervals) and
    stage metrics of one job group, from the status tracker and store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                         "spill_bytes", "executor_cpu_ms"), 0.0)
    intervals = []
    for j in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        jd = store.job(j)
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            intervals.append((jd.submissionTime().get().getTime(),
                              jd.completionTime().get().getTime()))
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info is not None else ():
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # skipped stage: its shuffle output was reused
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
    busy, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            busy += e - s
            end = e
        elif e > end:
            busy += e - end
            end = e
    out["job_wall_ms"] = busy
    out["driver_gap_ms"] = max(0.0, wall_ms - busy)
    return out
