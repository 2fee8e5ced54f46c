"""Traced-run instrumentation: spans around the calls into each layer's
public functions, plus counts read from Spark's public status and
listener APIs.

Nothing here is installed on an untraced run. Spans are kept in memory
and written once, when the run ends. A span records its name, start, end,
parent span and run id; a layer's self time is its duration minus the
part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import time
from collections import Counter
from contextlib import contextmanager

# Per-layer metrics a traced run reports, in print order, with units.
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "queries.import_s": "s",
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "queries.build_jobs": "count",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.persist_calls": "count",
    "exec.cached_mb": "MB",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.plan_s": "s",
    "exec.idle_core_frac": "ratio",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "exec.single_task_stage_s": "s",
    "operators.inference.python_rows": "count",
    "operators.inference.python_mb": "MB",
    "operators.inference.rows_per_frame": "ratio",
    "plans.build_s": "s",
    "run.write_s": "s",
    "run.outputs_written": "count",
    "run.rows_written": "count",
    "run.bytes_written_mb": "MB",
    "run.frames_per_s": "1/s",
    "sources.scan_s": "s",
    "streaming.query_wall_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.planning_s": "s",
    "streaming.state_rows": "count",
}

# Printed and written to the trace file but kept out of the result line:
# times of layers that only one workload enters (they read 0.0 on every run
# of the other workload, and the result line's times must be measured
# values that vary), and spill, which is 0 at these input sizes.
TRACE_FILE_ONLY = frozenset({
    "queries.build_s",
    "catalog.load_table_s",
    "exec.plan_s",
    "exec.spill_mb",
    "plans.build_s",
    "run.write_s",
    "run.frames_per_s",
    "sources.scan_s",
    "streaming.query_wall_s",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.wal_commit_s",
    "streaming.planning_s",
})

MB = 1024 * 1024


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.counts: Counter = Counter()
        self.in_build = False
        self.progress: list[dict] = []
        self.marks: dict[str, int] = {}  # see status_marks

    @contextmanager
    def span(self, name: str, label: str | None = None):
        s = {
            "id": len(self.spans) + 1,
            "name": name,
            "label": label,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span and
        counts the call under ``span_name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.counts[span_name] += 1
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def count_py4j(self) -> None:
        """Count py4j commands sent while a query builder runs."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            send = cls.send_command

            @functools.wraps(send)
            def counted(conn, command, *a, _send=send, **kw):
                if self.in_build:
                    self.counts["py4j"] += 1
                return _send(conn, command, *a, **kw)

            cls.send_command = counted

    def discard_since(self, t: float) -> None:
        """Forget the spans that started at or after ``t`` (``perf_counter``
        time) and their calls' counts."""
        for s in self.spans:
            if s["start"] >= t and s["name"] in self.counts:
                self.counts[s["name"]] -= 1
        self.spans = [s for s in self.spans if s["start"] < t]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the union of its children."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: Counter = Counter()
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the program's layer entry points. Must run before the query
    registry is imported: query modules bind ``load_table`` and
    ``persist_once`` at import time."""
    from talkinghead_datapipeline_spark import catalog, run, session
    from talkinghead_datapipeline_spark.plans import reference_compat

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(catalog, "load_table", "catalog.load_table")
    tracer.wrap(catalog, "persist_once", "catalog.persist_once")
    tracer.wrap(reference_compat, "run_reference_graph", "plans.build")
    tracer.wrap(run, "bind_input", "sources.scan")
    tracer.count_py4j()


def add_streaming_listener(spark, tracer: Tracer) -> None:
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            tracer.progress.append(
                {
                    "duration_ms": dict(p.durationMs or {}),
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators or []),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Progress())


def cached_mb(spark) -> float:
    """Memory and disk held by cached RDDs and DataFrames right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _stages(spark):
    sc = spark.sparkContext
    jvm = sc._jvm
    # py4j cannot use Scala default arguments: pass all five
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    return [stages.apply(i) for i in range(stages.size())]


def _jobs(spark):
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    return [jobs.apply(i) for i in range(jobs.size())]


def _executions(spark):
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def status_marks(spark) -> dict[str, int]:
    """The last stage, job and SQL execution ids so far: the totals below
    count only what starts after them."""
    return {
        "stage": max((s.stageId() for s in _stages(spark)), default=-1),
        "job": max((j.jobId() for j in _jobs(spark)), default=-1),
        "execution": max((e.executionId() for e in _executions(spark)), default=-1),
    }


def stage_totals(spark, marks: dict[str, int]) -> dict[str, float]:
    """Sums over the stages run after ``marks``, from the app status store."""
    t = Counter()
    for s in _stages(spark):
        if s.stageId() <= marks["stage"] or s.status().toString() == "SKIPPED" or s.numCompleteTasks() == 0:
            continue
        run_s = s.executorRunTime() / 1000
        t["stages"] += 1
        t["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        t["task_run_s"] += run_s
        t["task_cpu_s"] += s.executorCpuTime() / 1e9
        t["gc_s"] += s.jvmGcTime() / 1000
        t["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
        t["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        t["input_mb"] += s.inputBytes() / MB
        if s.numTasks() == 1:
            t["single_task_stage_s"] += run_s
    t["jobs"] = sum(j.jobId() > marks["job"] for j in _jobs(spark))
    return dict(t)


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB}


def _metric_number(text: str, size: bool) -> float:
    """Parse a SQL-metric display string: a plain count ('1,234') or a size
    whose first line is the total ('total (...)\\n1.2 KiB (...)')."""
    if size:
        first = text.split("\n")[-1].split("(")[0].split()
        return float(first[0].replace(",", "")) * _SIZE_UNITS[first[1]]
    return float(text.split("\n")[-1].split()[0].replace(",", ""))


def python_udf_totals(spark, marks: dict[str, int]) -> dict[str, float]:
    """Rows and bytes that crossed the Arrow/Python-worker hop, summed over
    the Python-UDF plan nodes of the SQL executions after ``marks``, from
    the SQL status store. ``rows_per_frame`` divides all rows by the rows
    each UDF node returns in the one execution where it returns the most:
    1.0 means each UDF ran once, more means lineage was recomputed by a
    later output."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows = data = 0.0
    needed: dict[str, float] = {}
    for e in _executions(spark):
        if e.executionId() <= marks["execution"] or e.metricValues() is None:
            continue
        # Scala Map[Long, String]; copied out because py4j would box a
        # Python int key as Integer and miss every Long key.
        values = {}
        it = e.metricValues().iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        graph = store.planGraph(e.executionId())
        nodes = graph.allNodes()
        per_exec: Counter = Counter()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if not any(w in node.name() for w in ("Python", "Pandas", "InArrow")):
                continue
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v is None:
                    continue
                if m.name() == "number of output rows":
                    per_exec[node.desc()] += _metric_number(v, size=False)
                elif m.name() == "data sent to Python workers":
                    data += _metric_number(v, size=True)
        for key, n in per_exec.items():
            rows += n
            needed[key] = max(needed.get(key, 0.0), n)
    need = sum(needed.values())
    return {
        "python_rows": rows,
        "python_mb": data / MB,
        "rows_per_frame": rows / need if need else 0.0,
    }


def streaming_totals(tracer: Tracer) -> dict[str, float]:
    t = Counter()
    for p in tracer.progress:
        d = p["duration_ms"]
        t["batches"] += 1
        t["trigger_s"] += d.get("triggerExecution", 0) / 1000
        t["add_batch_s"] += d.get("addBatch", 0) / 1000
        t["wal_commit_s"] += d.get("walCommit", 0) / 1000
        t["planning_s"] += d.get("queryPlanning", 0) / 1000
        t["state_rows"] += p["state_rows"]
    return dict(t)
