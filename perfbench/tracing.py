"""Spans and engine-side counters for the traced run.

Spans are kept in memory and written out when the run ends. A span has
a name, start, end, parent and operation id; the name's first dotted
part is the layer it measures (``sources``, ``plans``, ``services``,
``engine``, ``operators``). Spans come only from the benchmark's own
files: explicit ``with tracer.span(...)`` blocks around calls into a
layer, and wrappers the traced run installs over a few public
functions (``Tracer.wrap``) and over DataFrame actions, removed again
when the run ends. The untraced run uses ``NullTracer`` and installs
nothing.

Engine counters come from three in-process sources, all read with the
Spark UI disabled: a ``QueryExecutionListener`` that hands over the
``QueryExecution`` of every action (planning-tracker phases and the
executed plan's SQL metrics), the status tracker (jobs, stages and
tasks of the operation's job group), and the context's persistent-RDD
registry.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

# SQL metric name -> counter, summed over every node of an executed plan
_PLAN_METRICS = {
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "buildTime": "broadcast_build_ms",
    "pythonTotalTime": "python_eval_ms",
}


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False
    op = None

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Tracing on: spans, function wrappers and per-operation counters."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.op: str | None = None
        self._executions: list = []
        self._lock = threading.Lock()
        self._listener = None
        self._install_listener()
        self._wrap_actions()

    # ------------------------------------------------------------ spans

    def span(self, name: str):
        """A span in the current operation; outside an operation (the
        untraced requests interleaved in a traced run) nothing is
        recorded."""
        if self.op is None:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        # jobs launched while a DataFrame is built, not executed
        jobs = len(self.jobs_in_group()) if name.endswith(".build") else 0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if name.endswith(".build"):
                self._build_jobs += len(self.jobs_in_group()) - jobs

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def _wrap_actions(self) -> None:
        """DataFrame.collect/toLocalIterator: an ``engine.plan`` span that
        forces optimization and physical planning, then an
        ``engine.exec`` span around the execution itself. Rows of
        ``toLocalIterator`` are drained inside the span, so the caller's
        per-row work is not counted as execution."""
        from pyspark.sql.classic.dataframe import DataFrame

        collect, to_iter = DataFrame.collect, DataFrame.toLocalIterator
        tracer = self

        def plan(df):
            with tracer.span("engine.plan"):
                df._jdf.queryExecution().executedPlan()

        def traced_collect(df):
            if tracer.op is None:
                return collect(df)
            plan(df)
            with tracer.span("engine.exec"):
                return collect(df)

        def traced_iter(df, prefetchPartitions=False):
            if tracer.op is None:
                return to_iter(df, prefetchPartitions)
            plan(df)
            with tracer.span("engine.exec"):
                rows = list(to_iter(df, prefetchPartitions))
            return iter(rows)

        DataFrame.collect = traced_collect
        DataFrame.toLocalIterator = traced_iter
        self._patched += [(DataFrame, "collect", collect),
                          (DataFrame, "toLocalIterator", to_iter)]

    # ------------------------------------------------- engine counters

    def _install_listener(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        gw = self.spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        tracer = self

        class Listener:
            def onSuccess(self, func, qe, duration_ns):
                with tracer._lock:
                    tracer._executions.append((qe, duration_ns))

            def onFailure(self, func, qe, exc):
                with tracer._lock:
                    tracer._executions.append((qe, None))

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = Listener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def begin_op(self, op_id: str) -> None:
        from jane_spark.engine.ckpt import persistent_rdd_ids

        self.op = op_id
        self._build_jobs = 0
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        self._rdds = persistent_rdd_ids(self.spark)
        self._drain()

    def _drain(self) -> list:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            out, self._executions = self._executions, []
        return out

    def jobs_in_group(self) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.op))

    def end_op(self) -> dict:
        """Counters of the operation that just ended: planning phases and
        SQL metrics summed over its actions, its jobs/stages/tasks and
        the change in persisted RDDs."""
        from jane_spark.engine.ckpt import persistent_rdd_ids

        c: dict = defaultdict(float)
        for qe, duration_ns in self._drain():
            c["executions"] += 1
            if duration_ns is not None:
                c["exec_total_ms"] += duration_ns / 1e6
            phases = qe.tracker().phases()
            for name, key in (("analysis", "analyze_ms"),
                              ("optimization", "optimize_ms"),
                              ("planning", "plan_ms")):
                if phases.contains(name):
                    c[key] += phases.apply(name).durationMs()
            _walk(qe.executedPlan(), c)
        st = self.spark.sparkContext.statusTracker()
        for job in self.jobs_in_group():
            info = st.getJobInfo(job)
            if info is None:
                continue
            c["jobs"] += 1
            for stage in info.stageIds:
                c["stages"] += 1
                sinfo = st.getStageInfo(stage)
                if sinfo is not None:
                    c["tasks"] += sinfo.numTasks
        c["build_jobs"] = self._build_jobs
        c["persisted_rdds_leaked"] = len(persistent_rdd_ids(self.spark) - self._rdds)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.op = None
        return dict(c)

    def close(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched = []
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    # ---------------------------------------------------------- output

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"times": "seconds since tracing started",
                       "parent": "index of the parent span", "spans": self.spans}, fh)

    def op_layers(self, op_id: str) -> tuple[float, dict]:
        """(wall ms, {layer: self ms}) for one operation's root span. A
        span's self time is its duration minus its children's; the
        root's own self time is reported under ``bench``."""
        idx = [i for i, s in enumerate(self.spans) if s["op"] == op_id]
        child: dict = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = defaultdict(float)
        wall = 0.0
        for i in idx:
            s = self.spans[i]
            self_ms = (s["end"] - s["start"] - child[i]) * 1e3
            if s["parent"] is None or self.spans[s["parent"]]["op"] != op_id:
                wall += (s["end"] - s["start"]) * 1e3
                out["bench"] += self_ms
            else:
                out[s["name"].split(".")[0]] += self_ms
        return wall, dict(out)

    def op_self_ms(self, op_id: str, name: str) -> float:
        """Self time of the named spans in one operation."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["op"] == op_id and s["name"] == name:
                kids = sum(c["end"] - c["start"] for c in self.spans[i + 1:]
                           if c["parent"] == i)
                total += (s["end"] - s["start"] - kids) * 1e3
        return total

    def op_span_ms(self, op_id: str, name: str) -> float:
        """Total (inclusive) time of the named spans in one operation."""
        return sum((s["end"] - s["start"]) * 1e3 for s in self.spans
                   if s["op"] == op_id and s["name"] == name)


def _walk(node, c: dict) -> None:
    """Sum the interesting SQL metrics over an executed plan, descending
    through adaptive and query-stage wrappers into the final plan."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _walk(node.executedPlan(), c)
    if cls.endswith("QueryStageExec"):
        return _walk(node.plan(), c)
    metrics = node.metrics()
    it = metrics.iterator()
    vals = {}
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    for name, key in _PLAN_METRICS.items():
        if name in vals:
            c[key] += vals[name]
    if cls.startswith("FileSourceScan"):
        c["files_read"] += vals.get("numFiles", 0)
        c["scan_rows"] += vals.get("numOutputRows", 0)
    if cls == "DataWritingCommandExec":
        c["bytes_written"] += vals.get("numOutputBytes", 0)
        c["files_written"] += vals.get("numFiles", 0)
    children = node.children().iterator()
    while children.hasNext():
        _walk(children.next(), c)
