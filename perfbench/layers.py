"""Per-layer tracing from outside the engine.

A ``Tracer`` times the calls the benchmark makes into each layer (the
query function, the final action) and tags the Spark jobs each call starts
with a job group, ``pb<op>:build`` or ``pb<op>:action``. After an operation
it reads that operation's jobs, stages and SQL node metrics back from
Spark's status stores, which hold them with the UI off. The stores are
filled by listeners on Spark's asynchronous listener bus, which can lag the
action's return, so the bus is drained before each read. Nothing inside
the engine is instrumented.

Counters (``*.jobs``, ``*.stages``, ``*.tasks``, ``scan.*``, ``shuffle.*``)
depend only on the plan and its input, so a fixed seed repeats them
exactly; times do not.
"""

from __future__ import annotations

import re
import statistics
import threading
import time

# per-operation counters, summed over the operation's completed stages
_STAGE_FIELDS = {
    "exec.run_s": ("executorRunTime", 1e-3),
    "exec.cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "scan.input_bytes": ("inputBytes", 1),
    "scan.input_records": ("inputRecords", 1),
    "shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "shuffle.read_bytes": ("shuffleReadBytes", 1),
    "shuffle.records": ("shuffleWriteRecords", 1),
    "shuffle.fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill.bytes": ("diskBytesSpilled", 1),
}
# Python-worker SQL node metrics -> layer metric
_PYTHON_FIELDS = {
    "time to run Python workers": "python.udf_s",
    "data sent to Python workers": "python.bytes",
    "data returned from Python workers": "python.bytes",
}
STREAM_FIELDS = ("stream.batches", "stream.input_rows", "stream.batch_s",
                 "stream.state_rows")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Total of a formatted SQL metric: ``"2.3 s"``, ``"147.9 KiB"``,
    ``"1,000"``, or the ``total (min, med, max ...)`` two-line form."""
    lines = text.strip().splitlines()
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class Tracer:
    """Spans and status-store counters for operations on one SparkSession.

    ``begin``/``built``/``end`` bracket one operation (a query build plus its
    final action); they may run on several threads at once, one operation
    per thread. The group tag is a thread-local Spark property, so jobs of
    concurrent operations are told apart.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._lock = threading.Lock()
        self._next = 0
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self._stream: list[dict] = []
        self._listener = None

    # -- spans -------------------------------------------------------------

    def span(self, name: str, start: float, end: float, parent: str | None,
             op: str | None = None) -> str:
        with self._lock:
            sid = f"s{len(self.spans)}"
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, "op": op})
        return sid

    # -- operations --------------------------------------------------------

    def begin(self, query: str, op_id: str | None = None, **extra) -> dict:
        """Start an operation; ``op_id`` (default ``pb<n>``) is the id its
        spans share."""
        with self._lock:
            op = {"op": op_id or f"pb{self._next}", "query": query, **extra}
            self._next += 1
        op["sql_from"] = self._sql.executionsCount()
        op["wall_start"] = time.time()
        op["start"] = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", op["op"] + ":build")
        return op

    def built(self, op: dict) -> None:
        op["built"] = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", op["op"] + ":action")

    def end(self, op: dict) -> None:
        op["end"] = time.perf_counter()
        op["wall_end"] = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        root = self.span("op", op["start"], op["end"], None, op["op"])
        self.span("build", op["start"], op["built"], root, op["op"])
        self.span("action", op["built"], op["end"], root, op["op"])
        op["counters"] = self._counters(op)
        with self._lock:
            self.ops.append(op)

    def _counters(self, op: dict) -> dict:
        c = dict.fromkeys(_STAGE_FIELDS, 0.0)
        c.update({"materialize.jobs": 0, "materialize.exec_s": 0.0,
                  "action.jobs": 0, "action.stages": 0, "action.tasks": 0,
                  "python.udf_s": 0.0, "python.rows": 0, "python.bytes": 0})
        # every event of the operation's jobs is in the stores once the bus
        # is empty: the jobs, their stages' end and the tasks' metrics
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        op_jobs = set()
        for phase in ("build", "action"):
            stages = set()
            jobs = tracker.getJobIdsForGroup(f"{op['op']}:{phase}")
            for job_id in jobs:
                op_jobs.add(job_id)
                stages.update(_seq(self._store.job(job_id).stageIds()))
            for sid in sorted(stages):
                s = self._store.lastStageAttempt(sid)
                status = s.status().toString()
                if status == "SKIPPED":
                    continue  # its shuffle output was reused
                if status != "COMPLETE":
                    raise RuntimeError(f"{op['op']}: stage {sid} is {status} "
                                       "after its job returned")
                run_s = s.executorRunTime() * 1e-3
                if phase == "build":
                    c["materialize.exec_s"] += run_s
                else:
                    c["action.stages"] += 1
                    c["action.tasks"] += s.numTasks()
                for name, (getter, scale) in _STAGE_FIELDS.items():
                    c[name] += getattr(s, getter)() * scale
            c["materialize.jobs" if phase == "build" else "action.jobs"] += len(jobs)
        self._python_metrics(op, op_jobs, c)
        return c

    def _python_metrics(self, op: dict, op_jobs: set, c: dict) -> None:
        n = self._sql.executionsCount()
        if n <= op["sql_from"]:
            return
        for ex in _seq(self._sql.executionsList(op["sql_from"], n - op["sql_from"])):
            if not op_jobs & set(_seq(ex.jobs().keys().toSeq())):
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
                if not any(name in metrics for name in _PYTHON_FIELDS):
                    continue
                for name, acc in metrics.items():
                    if not values.contains(acc):
                        continue
                    if name in _PYTHON_FIELDS:
                        c[_PYTHON_FIELDS[name]] += sql_metric_value(values.apply(acc))
                    elif name == "number of output rows":
                        c["python.rows"] += sql_metric_value(values.apply(acc))

    # -- streaming ---------------------------------------------------------

    def listen_streams(self, spark) -> None:
        """Record every micro-batch's progress through a
        ``StreamingQueryListener``; ``attribute_streams`` assigns batches to
        operations by their trigger time."""
        from pyspark.sql.streaming import StreamingQueryListener

        events = self._stream

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "wall": _iso_seconds(p.timestamp),
                    "input_rows": p.numInputRows,
                    "batch_s": p.batchDuration * 1e-3,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def stop_listening(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def attribute_streams(self) -> None:
        for op in self.ops:
            mine = [e for e in self._stream
                    if op["wall_start"] <= e["wall"] <= op["wall_end"]]
            op["counters"].update(zip(STREAM_FIELDS, (
                len(mine),
                sum(e["input_rows"] for e in mine),
                sum(e["batch_s"] for e in mine),
                sum(e["state_rows"] for e in mine),
            )))


def _iso_seconds(stamp: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def per_pass(ops: list[dict], metric) -> float:
    """A workload's layer value for one pass over its queries: the median
    over each query's operations, summed over the queries. ``metric`` maps
    an operation record to a number."""
    by_query: dict[str, list[float]] = {}
    for op in ops:
        by_query.setdefault(op["query"], []).append(metric(op))
    return sum(statistics.median(v) for v in by_query.values())
