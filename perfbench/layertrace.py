"""Per-layer trace for the benchmark's ``--trace 1`` runs.

The tracer patches the public entry of each engine layer from outside
the package (the engine carries no tracing of its own) and records one
span per call: name, start, end, parent span and statement id, plus the
calling thread's CPU time. Spans stay in memory; ``layer_metrics`` folds
them, together with the Spark-side counters read at the same boundaries,
into the per-layer metrics named in BENCHMARK.json.

Spark-side sources, all read outside the timed statement latencies:

- every query execution, through a py4j ``QueryExecutionListener``
  (``QueryExecution.tracker().phases()`` for analysis / optimization /
  planning, and a walk of the executed plan, adaptive stages included,
  for scan, shuffle, spill, write and Python-boundary SQL metrics);
- ``SparkStatusTracker`` for the jobs and tasks of each statement's job
  group;
- the JVM's management beans for GC time and peak heap.

Self time of a span is its wall time minus that of its child spans.
The lowering layer's self time is split by CPU: the Python thread's CPU
inside ``lower`` is ``lower.s``; the rest of its wall time is spent
blocked in the JVM, where PySpark analyses every DataFrame it builds,
and is counted as Catalyst analysis.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import time
from collections import Counter, defaultdict

# Layer name → (module path, owner attribute or None, function name).
WRAPPED = (
    ("parse", "nutdb_spark.engine", None, "parse"),
    ("lower", "nutdb_spark.frontend.lower", "Lowerer", "lower_query"),
    ("sources.load_table", "nutdb_spark.engine", None, "load_table"),
    ("catalog.insert", "nutdb_spark.catalog", "Catalog", "insert"),
    ("catalog.mutate", "nutdb_spark.catalog", "Catalog", "alter"),
    ("catalog.optimize", "nutdb_spark.catalog", "Catalog", "optimize"),
    ("catalog.ddl", "nutdb_spark.catalog", "Catalog", "create_table"),
    ("catalog.ddl", "nutdb_spark.catalog", "Catalog", "create_view"),
    ("catalog.ddl", "nutdb_spark.catalog", "Catalog", "drop"),
    ("catalog.view_maintain", "nutdb_spark.streaming.summing", None, "summing_merge_batch"),
    ("catalog.view_maintain", "nutdb_spark.streaming.summing", None, "replacing_merge_batch"),
    ("catalog.view_maintain", "nutdb_spark.streaming.summing", None, "aggregating_merge_batch"),
)
# Spans that count once per outermost call: lowering recurses into
# subqueries and views, and view maintenance may nest merges.
TOP_LEVEL_ONLY = {"lower", "catalog.view_maintain"}

# The per-layer metrics, in the order BENCHMARK.json lists them.
METRICS = (
    ("parse.calls", "count"), ("parse.s", "s"),
    ("lower.calls", "count"), ("lower.s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("driver.py_cpu_s", "s"),
    ("exec.jobs", "count"), ("exec.tasks", "count"), ("exec.s", "s"),
    ("exec.file_scans", "count"), ("exec.scan_bytes", "bytes"),
    ("exec.shuffle_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.rows_scanned_per_row_out", "ratio"),
    ("sources.load_table_s", "s"),
    ("python.data_sent_bytes", "bytes"), ("python.data_received_bytes", "bytes"),
    ("python.udf_s", "s"), ("python.boot_s", "s"),
    ("catalog.insert_s", "s"), ("catalog.mutate_s", "s"),
    ("catalog.optimize_s", "s"), ("catalog.ddl_s", "s"),
    ("catalog.view_maintain_s", "s"),
    ("catalog.files_written", "count"), ("catalog.bytes_written", "bytes"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("trace.stmt_geomean_s", "s"), ("trace.statements", "count"),
)


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float
    cpu: float
    parent: int | None
    stmt: str | None


class _Listener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``;
    it only queues the QueryExecution, which the main thread reads later."""

    def __init__(self, sink: list):
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._sink.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self._sink.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._active: Counter = Counter()
        self._patched: list[tuple[object, str, object]] = []
        self._pending: list = []
        self.stmt: str | None = None
        self.counts: Counter = Counter()
        self.actions: Counter = Counter()
        self.overhead_s = 0.0
        self.setup_ddl_s = 0.0
        self._spark = None

    # --- spans --------------------------------------------------------

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if name in TOP_LEVEL_ONLY and tracer._active[name]:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def install(self) -> None:
        import importlib

        for name, module, cls, attr in WRAPPED:
            owner = importlib.import_module(module)
            if cls is not None:
                owner = getattr(owner, cls)
            self._wrap(owner, attr, name)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # --- Spark-side sources -------------------------------------------

    def attach(self, spark) -> None:
        """Register the execution listener on ``spark``'s session."""
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self._listener = _Listener(self._pending)
        spark._jsparkSession.listenerManager().register(self._listener)

    def detach(self) -> None:
        if self._spark is not None:
            self._spark._jsparkSession.listenerManager().unregister(self._listener)
            self._spark = None

    def write_spans(self, path: str) -> None:
        """Write the timed region's spans, one JSON object per line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dataclasses.asdict(s)) + "\n")

    def end_setup(self) -> None:
        """Keep the set-up's catalog DDL time, then drop the set-up spans."""
        self.setup_ddl_s = self.self_times().get("catalog.ddl", (0.0, 0.0, 0))[0]
        self.spans.clear()

    def begin_region(self) -> None:
        """Start of the timed region: drop what warm-up left."""
        self._drain()
        self._pending.clear()
        self.spans.clear()
        self.counts.clear()
        self.actions.clear()
        self.overhead_s = 0.0
        jvm = self._spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        for pool in mf.getMemoryPoolMXBeans():
            pool.resetPeakUsage()
        self._gc0 = self._gc_ms()

    def end_region(self) -> None:
        self._drain()
        self.counts["jvm.gc_ms"] += self._gc_ms() - self._gc0
        jvm = self._spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        heap = jvm.java.lang.management.MemoryType.HEAP
        self.counts["jvm.heap_peak"] = sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().equals(heap)
        )

    def _gc_ms(self) -> int:
        mf = self._spark._jvm.java.lang.management.ManagementFactory
        return sum(gc.getCollectionTime() for gc in mf.getGarbageCollectorMXBeans())

    def start_statement(self, stmt_id: str, text: str) -> None:
        self.stmt = stmt_id
        self._spark.sparkContext.setJobGroup(stmt_id, text[:120])
        self._stmt_cpu0 = time.process_time()

    def end_statement(self, key: str, action: bool) -> None:
        """Called after the statement's latency was taken: fold in the
        jobs, tasks and executed plans that belong to it. ``action``
        says the statement ended in the benchmark's result action, whose
        Catalyst phases are then taken out of its execution time. The
        time this takes is added to ``overhead_s``."""
        t0 = time.perf_counter()
        self.counts["driver.cpu"] += time.process_time() - self._stmt_cpu0
        sc = self._spark.sparkContext
        catalyst_ms = self._drain()
        if action:
            self.counts["action.catalyst_ms"] += catalyst_ms
            self.actions[key] += 1
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(self.stmt):
            self.counts["exec.jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = tracker.getStageInfo(stage)
                if st is not None:
                    self.counts["exec.tasks"] += st.numTasks
        sc._jsc.clearJobGroup()
        self.stmt = None
        self.overhead_s += time.perf_counter() - t0

    def _drain(self) -> int:
        """Read every execution the listener queued; returns the Catalyst
        milliseconds (all three phases) of those executions."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        total = 0
        while self._pending:
            total += self._read_execution(self._pending.pop(0))
        return total

    def _read_execution(self, qe) -> int:
        phases = qe.tracker().phases()
        total = 0
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                p = phases.apply(phase)
                ms = p.endTimeMs() - p.startTimeMs()
                self.counts[f"catalyst.{phase}_ms"] += ms
                total += ms
        self._walk(qe.executedPlan(), set())
        return total

    # metrics read from each plan node; the rest are never fetched
    _METRICS = (
        "numFiles", "filesSize", "numOutputRows", "numOutputBytes",
        "shuffleBytesWritten", "spillSize", "pythonDataSent",
        "pythonDataReceived", "pythonTotalTime", "pythonBootTime",
    )

    def _walk(self, plan, seen: set) -> None:
        key = plan.id()
        if key in seen:
            return
        seen.add(key)
        node = plan.nodeName()
        metrics = plan.metrics()
        names = set(metrics.keys().mkString("\t").split("\t"))
        for name in names.intersection(self._METRICS):
            m = metrics.apply(name)
            value, kind = m.value(), m.metricType()
            if kind == "timing":
                value /= 1e3
            elif kind == "nsTiming":
                value /= 1e9
            self._count_metric(node, name, value)
        kids = plan.children()
        children = [kids.apply(i) for i in range(kids.size())]
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            children.append(plan.executedPlan())
        elif cls.endswith("QueryStageExec"):
            children.append(plan.plan())
        elif cls == "CommandResultExec":
            children.append(plan.commandPhysicalPlan())
        subs = plan.subqueries()
        children.extend(subs.apply(i) for i in range(subs.size()))
        for child in children:
            self._walk(child, seen)

    def _count_metric(self, node: str, name: str, value: float) -> None:
        c = self.counts
        if node.startswith("Scan ") or "FileScan" in node:
            if name == "numFiles":
                c["exec.file_scans"] += value
            elif name == "filesSize":
                c["exec.scan_bytes"] += value
            elif name == "numOutputRows":
                c["exec.rows_scanned"] += value
        elif node.startswith("Execute ") and "Insert" in node:
            if name == "numFiles":
                c["catalog.files_written"] += value
            elif name == "numOutputBytes":
                c["catalog.bytes_written"] += value
        if name == "shuffleBytesWritten":
            c["exec.shuffle_bytes"] += value
        elif name == "spillSize":
            c["exec.spill_bytes"] += value
        elif name == "pythonDataSent":
            c["python.data_sent_bytes"] += value
        elif name == "pythonDataReceived":
            c["python.data_received_bytes"] += value
        elif name == "pythonTotalTime":
            c["python.udf_s"] += value
        elif name == "pythonBootTime":
            c["python.boot_s"] += value

    # --- folding ------------------------------------------------------

    def self_times(self) -> dict[str, tuple[float, float, int]]:
        """name → (self wall seconds, self CPU seconds, calls)."""
        child_wall = defaultdict(float)
        child_cpu = defaultdict(float)
        for s in self.spans:
            if s is not None and s.parent is not None:
                child_wall[s.parent] += s.end - s.start
                child_cpu[s.parent] += s.cpu
        out: dict[str, list] = defaultdict(lambda: [0.0, 0.0, 0])
        for i, s in enumerate(self.spans):
            if s is None:
                continue
            acc = out[s.name]
            acc[0] += (s.end - s.start) - child_wall[i]
            acc[1] += s.cpu - child_cpu[i]
            acc[2] += 1
        return {k: tuple(v) for k, v in out.items()}

    def layer_metrics(
        self, rows: dict[str, int], stmt_geomean_s: float, statements: int
    ) -> dict[str, dict]:
        """The per-layer metrics of the timed region; ``rows`` is each
        statement's result row count, from the output check."""
        st = self.self_times()
        c = self.counts

        def wall(name):
            return st.get(name, (0.0, 0.0, 0))[0]

        lower_wall, lower_cpu, lower_calls = st.get("lower", (0.0, 0.0, 0))
        opt = c["catalyst.optimization_ms"] / 1e3
        plan = c["catalyst.planning_ms"] / 1e3
        values = {
            "parse.calls": st.get("parse", (0, 0, 0))[2],
            "parse.s": wall("parse"),
            "lower.calls": lower_calls,
            "lower.s": lower_cpu,
            "catalyst.analysis_s": max(0.0, lower_wall - lower_cpu)
            + c["catalyst.analysis_ms"] / 1e3,
            "catalyst.optimization_s": opt,
            "catalyst.planning_s": plan,
            "driver.py_cpu_s": c["driver.cpu"],
            "exec.jobs": c["exec.jobs"],
            "exec.tasks": c["exec.tasks"],
            "exec.s": max(0.0, wall("action") - c["action.catalyst_ms"] / 1e3),
            "exec.file_scans": c["exec.file_scans"],
            "exec.scan_bytes": c["exec.scan_bytes"],
            "exec.shuffle_bytes": c["exec.shuffle_bytes"],
            "exec.spill_bytes": c["exec.spill_bytes"],
            "exec.rows_scanned_per_row_out": c["exec.rows_scanned"]
            / max(1, sum(n * rows.get(k, 0) for k, n in self.actions.items())),
            "sources.load_table_s": wall("sources.load_table"),
            "python.data_sent_bytes": c["python.data_sent_bytes"],
            "python.data_received_bytes": c["python.data_received_bytes"],
            "python.udf_s": c["python.udf_s"],
            "python.boot_s": c["python.boot_s"],
            "catalog.insert_s": wall("catalog.insert"),
            "catalog.mutate_s": wall("catalog.mutate"),
            "catalog.optimize_s": wall("catalog.optimize"),
            "catalog.ddl_s": self.setup_ddl_s,
            "catalog.view_maintain_s": wall("catalog.view_maintain"),
            "catalog.files_written": c["catalog.files_written"],
            "catalog.bytes_written": c["catalog.bytes_written"],
            "jvm.gc_s": c["jvm.gc_ms"] / 1e3,
            "jvm.heap_peak_mb": c["jvm.heap_peak"] / 2**20,
            "trace.stmt_geomean_s": stmt_geomean_s,
            "trace.statements": statements,
        }
        return {name: {"value": float(values[name]), "unit": unit} for name, unit in METRICS}


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.parent = t._stack[-1] if t._stack else None
        t._active[self.name] += 1
        # reserve the slot now so children can name it as their parent
        self.idx = len(t.spans)
        t.spans.append(None)
        t._stack.append(self.idx)
        self.cpu0 = time.thread_time()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.t
        t._stack.pop()
        t._active[self.name] -= 1
        t.spans[self.idx] = Span(
            self.name, self.start, end, time.thread_time() - self.cpu0,
            self.parent, t.stmt,
        )
        return False

