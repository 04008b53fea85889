"""Per-layer tracing for the traced run, recorded from outside the program.

Everything here observes the engine through public surfaces:

- spans timed around the calls the benchmark makes into each layer, plus a
  wrapper around ``catalog.load_table`` (the plans call it internally);
- one Spark job group per op (and per planning span that launches jobs), read
  back from the application status store after the op for jobs, tasks,
  executor time, GC, input/output and shuffle bytes;
- the SQL status store for Python-worker metrics of the executions the op ran;
- a ``StreamingQueryListener`` for micro-batch progress and state metrics.

Collection happens after each op's timed region; only the spans, the job
group switches, the wrapper and the listener callbacks run inside it.
"""

from __future__ import annotations

import contextlib
import re
import sys
import threading
import time
from collections import defaultdict

_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_PY_METRICS = {
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_received",
    "number of output rows": "operators.python_rows_received",
    "time to run Python workers": "operators.python_exec_s",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric (``"12.5 KiB"``, ``"1,024"``,
    ``"total (min, med, max ...)\\n3.1 s (...)"``) in bytes, seconds or
    units."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class OpRecord:
    """What the tracer learned about one op."""

    def __init__(self, index: int) -> None:
        self.group = f"perfbench-op-{index}"
        self.spans: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.span_groups: dict[str, str] = {}
        self.stream_runs: list[str] = []
        self.progress: list = []
        self.terminated = 0
        self.t0_ms = 0.0
        self.t1_ms = 0.0
        self.sql_before = 0


class Tracer:
    """Off until :meth:`enable`, which lasts for the rest of the process;
    when off every hook is a no-op."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.enabled = False
        self._op: OpRecord | None = None
        self._n = 0
        self._lock = threading.Lock()
        self._by_run: dict[str, OpRecord] = {}

    # -- switching ---------------------------------------------------------
    def enable(self) -> None:
        self.enabled = True
        self._wrap_load_table()
        self.spark.streams.addListener(_make_listener(self))

    def _wrap_load_table(self) -> None:
        from dask_hivemetastore_spark import catalog

        orig = catalog.load_table
        tracer = self

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                op = tracer._op
                if op is not None:
                    op.spans["catalog.load_table"] += time.perf_counter() - t0
                    op.counts["catalog.load_table_calls"] += 1

        for name, mod in list(sys.modules.items()):
            if name.startswith("dask_hivemetastore_spark") and \
                    getattr(mod, "load_table", None) is orig:
                setattr(mod, "load_table", load_table)

    # -- inside the timed region -------------------------------------------
    def begin_op(self) -> OpRecord | None:
        if not self.enabled:
            return None
        self._n += 1
        op = OpRecord(self._n)
        self._op = op
        op.sql_before = self._sql_store().executionsCount()
        self.spark.sparkContext.setJobGroup(op.group, op.group, False)
        op.t0_ms = time.time() * 1000
        return op

    def end_op(self) -> None:
        if not self.enabled or self._op is None:
            return
        self._op.t1_ms = time.time() * 1000
        self.spark.sparkContext.setJobGroup(None, None, False)

    @contextlib.contextmanager
    def span(self, name: str, own_jobs: bool = False):
        """Time a call into a layer; with ``own_jobs`` the Spark jobs it
        launches get their own group, so they can be counted apart."""
        op = self._op if self.enabled else None
        if op is None:
            yield
            return
        sc = self.spark.sparkContext
        if own_jobs:
            group = f"{op.group}-{name}"
            op.span_groups[name] = group
            sc.setJobGroup(group, group, False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            op.spans[name] += time.perf_counter() - t0
            if own_jobs:
                sc.setJobGroup(op.group, op.group, False)

    # -- listener callbacks (py4j callback thread) --------------------------
    def _on_started(self, run_id: str) -> None:
        with self._lock:
            op = self._op
            if op is not None:
                op.stream_runs.append(run_id)
                self._by_run[run_id] = op

    def _on_progress(self, run_id: str, progress) -> None:
        with self._lock:
            op = self._by_run.get(run_id)
            if op is not None:
                op.progress.append(progress)

    def _on_terminated(self, run_id: str) -> None:
        with self._lock:
            op = self._by_run.get(run_id)
            if op is not None:
                op.terminated += 1

    # -- after the timed region --------------------------------------------
    def collect(self, op: OpRecord) -> dict[str, float]:
        """Read the status stores for one finished op and return its
        per-layer numbers (seconds, bytes, counts)."""
        self._op = None
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            with self._lock:
                if op.terminated >= len(op.stream_runs):
                    break
            time.sleep(0.02)
        out: dict[str, float] = defaultdict(float)
        for name, secs in op.spans.items():
            out[f"{name}_s"] += secs
        out.update(op.counts)
        jobs_by_group = self._jobs(op)
        for name, group in op.span_groups.items():
            out[f"{name}_jobs"] = len(jobs_by_group.get(group, ()))
        self._spark_metrics(op, jobs_by_group, out)
        self._python_metrics(op, out)
        self._stream_metrics(op, out)
        return dict(out)

    def _jobs(self, op: OpRecord) -> dict[str, list]:
        tracker = self.spark.sparkContext.statusTracker()
        groups = [op.group, *op.span_groups.values(), *op.stream_runs]
        return {g: list(tracker.getJobIdsForGroup(g)) for g in groups}

    def _spark_metrics(self, op: OpRecord, jobs_by_group, out) -> None:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        intervals = []
        stage_ids = set()
        for jid in {j for js in jobs_by_group.values() for j in js}:
            job = store.job(jid)
            out["spark.jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            sub = sd.submissionTime()
            # a shuffle stage computed by an earlier op shows up in this op's
            # job as skipped but keeps its old metrics: count only stages
            # submitted during the op
            if not sub.isDefined() or sub.get().getTime() < op.t0_ms - 1:
                continue
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.task_failures"] += sd.numFailedTasks()
            out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
            out["spark.input_bytes"] += sd.inputBytes()
            out["spark.output_bytes"] += sd.outputBytes()
            out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        covered = 0.0
        end = op.t0_ms
        for s, e in sorted(intervals):
            s, e = max(s, end), min(e, op.t1_ms)
            if e > s:
                covered += e - s
                end = e
        out["plans.driver_gap_s"] = max(0.0, (op.t1_ms - op.t0_ms - covered) / 1e3)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _python_metrics(self, op: OpRecord, out) -> None:
        store = self._sql_store()
        after = store.executionsCount()
        if after <= op.sql_before:
            return
        execs = store.executionsList(int(op.sql_before), int(after - op.sql_before))
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        it = execs.iterator()
        while it.hasNext():
            eid = it.next().executionId()
            wanted: dict[int, str] = {}
            nodes = store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not _PYTHON_NODE.search(node.name()):
                    continue
                ms = node.metrics().iterator()
                found = {}
                while ms.hasNext():
                    m = ms.next()
                    if m.name() in _PY_METRICS:
                        found[m.accumulatorId()] = _PY_METRICS[m.name()]
                # "number of output rows" is only the Python rows when the
                # node is a Python exec, which carries the data-sent metric
                if "operators.python_bytes_sent" in found.values():
                    wanted.update(found)
            if not wanted:
                continue
            values = conv.asJava(store.executionMetrics(eid))
            for acc, name in wanted.items():
                text = values.get(acc)
                if text is not None:
                    out[name] += parse_metric(text)

    def _stream_metrics(self, op: OpRecord, out) -> None:
        if not op.progress:
            return
        last_total: dict[str, int] = {}
        durations = []
        for p in op.progress:
            d = p.durationMs
            out["streaming.batches"] += 1
            out["streaming.data_batches"] += 1 if p.numInputRows > 0 else 0
            out["streaming.input_rows"] += p.numInputRows
            out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            out["streaming.wal_commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            durations.append(d.get("triggerExecution", 0) / 1e3)
            total = 0
            for s in p.stateOperators:
                total += s.numRowsTotal
                out["streaming.state_rows_updated"] += s.numRowsUpdated
                out["streaming.state_commit_s"] += s.commitTimeMs / 1e3
                out["streaming.state_memory_bytes"] = max(
                    out["streaming.state_memory_bytes"], s.memoryUsedBytes)
            last_total[str(p.runId)] = total
        out["streaming.state_rows_total"] += sum(last_total.values())
        out["streaming.batch_durations"] = durations  # type: ignore[assignment]


def _make_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            tracer._on_started(str(event.runId))

        def onQueryProgress(self, event):
            tracer._on_progress(str(event.progress.runId), event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            tracer._on_terminated(str(event.runId))

    return Listener()
