"""Per-layer counters read from a live SparkSession, from outside the engine.

Every number comes from Spark's own bookkeeping, reached over py4j and
the public API:

- the status store (``AppStatusStore``): jobs, stages, tasks, task run
  and CPU time, input, shuffle and spill bytes;
- the query-execution tracker: Catalyst analysis / optimization /
  planning milliseconds of the returned DataFrame;
- ``CodegenMetrics`` and ``CodeGenerator.compileTime``: whole-stage
  codegen compiles and their time;
- the executed plan's SQL metrics: rows and bytes crossing the
  JVM/Python boundary at Python nodes;
- storage info: persisted RDDs and their size;
- a ``StreamingQueryListener``: per-micro-batch progress.

Nothing here is imported by the engine and nothing patches it.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# Plan nodes whose SQL metrics count the JVM<->Python (Arrow) boundary.
PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _seq(scala_seq) -> list:
    """A Scala Seq (or Iterable) as a Python list."""
    out = []
    it = scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _option(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


class StreamProgress(StreamingQueryListener):
    """Collects every streaming query's start and progress events.

    Micro-batches run on the stream thread, outside the caller's job
    group; the stream thread tags its jobs with the query's run id, so
    the run ids collected here also attribute those jobs.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        record = {
            "run_id": str(p.runId),
            "input_rows": int(p.numInputRows),
            "duration_ms": {k: int(v) for k, v in (p.durationMs or {}).items()},
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            "state_commit_ms": sum(int(s.commitTimeMs) for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(record)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def take(self, since_started: int, timeout_s: float = 10.0) -> tuple[list[str], list[dict]]:
        """Run ids started after index ``since_started`` and their progress
        events, once each of those queries has reported termination."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                run_ids = self.started[since_started:]
                done = all(r in self.terminated for r in run_ids)
                if done or time.monotonic() > deadline:
                    wanted = set(run_ids)
                    return run_ids, [p for p in self.progress if p["run_id"] in wanted]
            time.sleep(0.01)


class SparkCounters:
    """Reads Spark's counters for one traced query at a time."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self.sc.statusTracker()
        self._codegen_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._identity = jvm.java.lang.System.identityHashCode
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        # a stage or Python node is counted once, by the first query
        # whose jobs or plan reach it (cached relations are shared)
        self._counted_stages: set[int] = set()
        self._python_seen: dict[int, tuple[int, int, int]] = {}
        self.listener = StreamProgress()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status store reflects all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def codegen(self) -> tuple[int, int]:
        """(compiles so far, compile nanoseconds so far), JVM-wide."""
        return int(self._codegen_hist.getCount()), int(self._codegen.compileTime())

    def job_ids(self, group: str) -> list[int]:
        return sorted(int(j) for j in self._tracker.getJobIdsForGroup(group))

    def all_job_ids(self) -> list[int]:
        return sorted(int(j.jobId()) for j in _seq(self._store.jobsList(None)))

    def jobs(self, job_ids: list[int]) -> dict:
        """Scheduler and execution counters of ``job_ids``."""
        c = dict.fromkeys(
            (
                "jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
                "task_run_s", "task_cpu_s", "input_bytes", "input_rows",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            ),
            0,
        )
        c["jobs"] = len(job_ids)
        for jid in job_ids:
            job = self._store.job(jid)
            stage_ids = [int(s) for s in _seq(job.stageIds())]
            c["stages"] += len(stage_ids)
            c["skipped_stages"] += int(job.numSkippedStages())
            for sid in stage_ids:
                if sid in self._counted_stages:
                    continue
                self._counted_stages.add(sid)
                for st in _seq(
                    self._store.stageData(sid, False, None, False, self._no_quantiles)
                ):
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["tasks"] += int(st.numTasks())
                    c["failed_tasks"] += int(st.numFailedTasks())
                    c["task_run_s"] += int(st.executorRunTime()) / 1e3
                    c["task_cpu_s"] += int(st.executorCpuTime()) / 1e9
                    c["input_bytes"] += int(st.inputBytes())
                    c["input_rows"] += int(st.inputRecords())
                    c["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                    c["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                    c["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                        st.diskBytesSpilled()
                    )
        return c

    def catalyst_ms(self, df) -> dict:
        """Phase milliseconds of the returned DataFrame's QueryExecution.
        Plans of eager jobs run inside the build are not covered."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {"analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0}
        for name in ("analysis", "optimization", "planning"):
            summary = _option(phases.get(name))
            if summary is not None:
                out[f"{name}_ms"] = int(summary.durationMs())
        return out

    def python_boundary(self, df) -> dict:
        """Rows and bytes at Python nodes of the executed plan, including
        plans of cached relations it scans. A node reached again (a
        cached relation reused by a later query) adds only its growth."""
        out = {"rows_from_python": 0, "bytes_to_python": 0, "bytes_from_python": 0}
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls == "InMemoryTableScanExec":
                stack.append(node.relation().cachedPlan())
            if any(m in node.nodeName() for m in PYTHON_NODE_MARKERS):
                metrics = node.metrics()
                vals = tuple(
                    int(_option(metrics.get(k)).value()) if metrics.contains(k) else 0
                    for k in ("pythonNumRowsReceived", "pythonDataSent", "pythonDataReceived")
                )
                key = int(self._identity(node))
                prev = self._python_seen.get(key, (0, 0, 0))
                self._python_seen[key] = vals
                for name, v, p in zip(out, vals, prev):
                    out[name] += v - p
            stack.extend(_seq(node.children()))
        return out

    def cache(self) -> dict:
        infos = list(self._jsc.getRDDStorageInfo())
        return {
            "persisted_rdds": int(self.sc._jsc.getPersistentRDDs().size()),
            "persisted_bytes": sum(int(i.memSize()) + int(i.diskSize()) for i in infos),
        }

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM, in MB (0.0 where /proc is unavailable)."""
        pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0
