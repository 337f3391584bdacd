"""Out-of-program tracing for the traced benchmark run.

Wraps public entry points of each layer (parser, translator, engine, fixed
rules, dedup and FTS operators, DataFrame actions, the py4j gateway) with
span recorders. Nothing here is imported or installed by an untraced run.

A span is (name, start, end, parent, op, thread). py4j calls are too many to
keep as spans (hundreds per interactive read), so each span instead
carries the count and time of the py4j calls made while it was the innermost
open span on its thread.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []
        self.py4j_calls = 0  # client-thread calls while enabled

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._stack()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": st[-1]["id"] if st else None,
               "op": self.op if threading.current_thread() is threading.main_thread() else None,
               "thread": threading.get_ident(), "py4j_calls": 0, "py4j_ms": 0.0}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec)
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            st.pop()

    def _py4j(self, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = (time.perf_counter() - t0) * 1e3
            st = self._stack()
            if st:
                st[-1]["py4j_calls"] += 1
                st[-1]["py4j_ms"] += dt
            if threading.current_thread() is threading.main_thread():
                self.py4j_calls += 1

    # -- installation -----------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _wrap_fn(self, owner, attr: str, name: str) -> None:
        def make(orig):
            @functools.wraps(orig)
            def w(*a, **k):
                return self.span(name, orig, *a, **k)
            return w
        self._patch(owner, attr, make)

    def install(self) -> None:
        import py4j.java_gateway
        # the concrete class: it overrides the actions of pyspark.sql.DataFrame
        from pyspark.sql.classic.dataframe import DataFrame

        import cozo_spark.datalog.engine as engine
        import cozo_spark.datalog.parser as parser
        import cozo_spark.fixed_rules as fixed_rules
        import cozo_spark.operators.dedup as dedup
        from cozo_spark.datalog.translate import ClauseTranslator
        from cozo_spark.operators.fts import FtsIndex

        for mod in (parser, engine):
            self._wrap_fn(mod, "parse_script", "datalog.parser")
        self._wrap_fn(ClauseTranslator, "translate", "datalog.translate")
        self._wrap_fn(engine.CozoDb, "run_script", "datalog.engine.run_script")
        self._wrap_fn(engine.CozoDb, "run_script_df", "datalog.engine")
        self._wrap_fn(dedup, "minhash_lsh_dedup_pairs", "operators.dedup")
        self._wrap_fn(FtsIndex, "search", "operators.fts")
        for meth in ("collect", "count", "toLocalIterator", "toPandas"):
            self._wrap_fn(DataFrame, meth, "spark.execute")

        def make_get(orig):
            @functools.wraps(orig)
            def get(name):
                rule = orig(name)

                @functools.wraps(rule)
                def traced(*a, **k):
                    return self.span(f"fixed_rules.{name}", rule, *a, **k)
                return traced
            return get
        for mod in (fixed_rules, engine):
            self._patch(mod, "get_fixed_rule", make_get)

        def make_send(orig):
            @functools.wraps(orig)
            def send(client, *a, **k):
                return self._py4j(orig, client, *a, **k)
            return send
        # also covers py4j.clientserver.JavaClient (pinned-thread mode),
        # which inherits send_command
        self._patch(py4j.java_gateway.GatewayClient, "send_command", make_send)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- output -------------------------------------------------------------

    def dump(self, path: str, t0: float) -> None:
        """Write every span as JSON, times in ms from t0."""
        rows = [{"id": s["id"], "name": s["name"],
                 "start_ms": round((s["start"] - t0) * 1e3, 3),
                 "end_ms": None if s["end"] is None
                 else round((s["end"] - t0) * 1e3, 3),
                 "parent": s["parent"], "op": s["op"], "thread": s["thread"],
                 "py4j_calls": s["py4j_calls"],
                 "py4j_ms": round(s["py4j_ms"], 3)} for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)


class JobCounter:
    """Spark jobs and tasks per op, read from the public statusTracker with
    one job group per op; jobs outside every op group are background work."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.before = set(self.tracker.getJobIdsForGroup(None))
        self.background: set = set()

    def begin(self, op: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op}", "perfbench op", False)

    def end(self, op: int) -> tuple[int, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self.tracker.getJobIdsForGroup(f"perfbench-op-{op}")
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        # polled after every op: the tracker forgets old jobs
        self.background |= set(self.tracker.getJobIdsForGroup(None)) - self.before
        return len(jobs), tasks

    def background_jobs(self) -> int:
        return len(self.background)


def jvm_gc_ms(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))
