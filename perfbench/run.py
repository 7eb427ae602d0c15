"""Engine benchmark: one workload, one seed, one fresh single-process driver.

    python3 perfbench/run.py --workload sql_star --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. It builds the engine's SparkSession on
``local[<cores>]`` over the tables in ``perfbench/data``, collects the
warm-up query, then runs one pass over the workload's queries as a
closed loop with one client: each query is built (``fn(spark, data_dir)``,
eager jobs included) and ``collect()``-ed before the next one starts. The
seed sets the query order; each workload's pass is sized to about
``run_seconds`` of BENCHMARK.json, and ``--seconds`` is recorded, not
used to add passes (see README.md). Every collected result is checked
after the pass ends.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
pass traced (a Spark job group per build and per collect, Spark's
counters read after each query) and reports the per-layer metrics. The
last line of stdout is one JSON object; spans and per-query records go
to ``perfbench/out/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

# time origin of every span
PROCESS_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data")
OUT_DIR = os.path.join(BENCH_DIR, "out")
MB = 1024.0 * 1024.0
# Layer times written to the artifact and the summary line but not to
# the result line, where a time must differ from run to run: sums of
# whole milliseconds, or zero by design on two of the three workloads.
ARTIFACT_ONLY = (
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.state_commit_s",
)
# bound on sentinel drift when BENCHMARK.json is not beside the benchmark
DEFAULT_DRIFT_BOUND = 0.1
# A stolen CPU share s stretched wall times by about STEAL_STRETCH * s:
# fitted slopes 2.2-2.6 (r 0.78-1.00) over ten runs of each workload on
# a shared 4-core virtual machine, s from 0.1 % to 38 %.
STEAL_STRETCH = 2.5


def sentinel_s(reps: int = 7) -> float:
    """Fastest of ``reps`` timings of a fixed CPU-only loop that never
    touches the engine; the minimum discards momentary interference."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(800_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        samples.append(time.perf_counter() - t0)
    return min(samples)


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) jiffies of all CPUs so far, from /proc/stat. Stolen
    time is time a virtual CPU was ready to run while the hypervisor ran
    something else; it reads 0 on bare metal, (0, 0) without /proc."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields + [0] * (8 - len(fields))
    return user + nice + system + irq + softirq, steal


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two readings that was stolen."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def drift_bound() -> float:
    """The smallest end-to-end bound of BENCHMARK.json other than set-up's."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError):
        return DEFAULT_DRIFT_BOUND
    bounds = [m["bound"] for m in spec.get("end_to_end", []) if m["name"] != "setup_s"]
    return min(bounds, default=DEFAULT_DRIFT_BOUND)


class Spans:
    """Spans kept in memory: name, start, end, parent, query id."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def open(self, name: str, parent: int | None = None, query: str | None = None) -> int:
        self.records.append(
            {"id": len(self.records), "name": name, "start": time.perf_counter() - PROCESS_START,
             "end": None, "parent": parent, "query": query}
        )
        return len(self.records) - 1

    def close(self, span_id: int) -> float:
        rec = self.records[span_id]
        rec["end"] = time.perf_counter() - PROCESS_START
        return rec["end"] - rec["start"]

    @contextmanager
    def step(self, name: str, parent: int, query: str, durations: dict[str, float]):
        """A child span of a query; its duration goes to ``durations[name]``."""
        span_id = self.open(name, parent, query)
        try:
            yield
        finally:
            durations[name] = self.close(span_id)

    def with_self_time(self) -> list[dict]:
        """Each span with ``self``: its duration minus the part of it that
        its child spans cover."""
        children: dict[int, list[dict]] = {}
        for rec in self.records:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        out = []
        for rec in self.records:
            covered, last = 0.0, rec["start"]
            for child in sorted(children.get(rec["id"], []), key=lambda c: c["start"]):
                lo, hi = max(child["start"], last), min(child["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out.append(dict(rec, self=rec["end"] - rec["start"] - covered))
        return out


class Tracer:
    """Job groups around each span and Spark's counters after each query."""

    def __init__(self, spark) -> None:
        from perfbench.spark_layers import SparkCounters

        self.counters = SparkCounters(spark)
        self.sc = spark.sparkContext
        self.job_base = max(self.counters.all_job_ids(), default=-1)

    def group(self, qid: str, span: str) -> None:
        self.sc.setJobGroup(f"{qid}:{span}", f"{qid}:{span}")

    def start_query(self) -> tuple:
        return len(self.counters.listener.started), self.counters.codegen()

    def finish_query(self, qid: str, mark: tuple, df) -> dict:
        c = self.counters
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        started, (compiles0, compile_ns0) = mark
        run_ids, progress = c.listener.take(started)
        c.drain()
        compiles, compile_ns = c.codegen()
        build_jobs = c.job_ids(f"{qid}:build")
        job_ids = build_jobs + c.job_ids(f"{qid}:collect")
        for run_id in run_ids:
            job_ids += c.job_ids(run_id)
        rec = c.jobs(sorted(set(job_ids)))
        rec["build_jobs"] = len(build_jobs)
        rec["codegen_compiles"] = compiles - compiles0
        rec["codegen_compile_ms"] = (compile_ns - compile_ns0) / 1e6
        if df is not None:
            rec.update(c.catalyst_ms(df))
            rec.update(c.python_boundary(df))
        rec.update(c.cache())
        rec["stream_queries"] = len(run_ids)
        rec["stream_batches"] = len(progress)
        rec["stream_input_rows"] = sum(p["input_rows"] for p in progress)
        for key in ("triggerExecution", "addBatch", "queryPlanning", "walCommit"):
            rec[f"stream_{key}_ms"] = sum(p["duration_ms"].get(key, 0) for p in progress)
        rec["stream_state_rows"] = sum(p["state_rows"] for p in progress)
        rec["stream_state_commit_ms"] = sum(p["state_commit_ms"] for p in progress)
        return rec

    def run_jobs(self) -> int:
        """Jobs the status tracker saw since the tracer started."""
        self.counters.drain()
        return sum(1 for j in self.counters.all_job_ids() if j > self.job_base)


def run_pass(spark, workload: str, order: list[str], gate, spans: Spans,
             tracer: Tracer | None) -> list[dict]:
    """Closed loop over ``order``; one record per query. Results are
    checked once the pass has ended, so the checks never sit between two
    timed queries."""
    import __spark_entry__ as entry

    queries = entry.all_queries()
    executions, results = [], []
    pass_span = spans.open("pass")
    for name in order:
        mark = tracer.start_query() if tracer else None
        q_span = spans.open("query", pass_span, name)
        steps: dict[str, float] = {}
        df = rows = error = None
        try:
            if tracer:
                tracer.group(name, "build")
            with spans.step("build", q_span, name, steps):
                df = queries[name](spark, DATA_DIR)
            if tracer:
                # force the lazy Catalyst phases that collect() would
                # run first, each in its own span
                tracer.group(name, "collect")
                qe = df._jdf.queryExecution()
                with spans.step("optimize", q_span, name, steps):
                    qe.optimizedPlan()
                with spans.step("plan", q_span, name, steps):
                    qe.executedPlan()
            with spans.step("collect", q_span, name, steps):
                rows = df.collect()
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
            error = f"raised {type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        rec = {"query": name, "latency_s": spans.close(q_span), **steps, "error": error}
        if tracer:
            rec["layers"] = tracer.finish_query(name, mark, df)
        executions.append(rec)
        results.append((df.schema if error is None else None, rows))
    spans.close(pass_span)
    for rec, (schema, rows) in zip(executions, results):
        if rec["error"] is None:
            rec["error"] = gate.check(rec["query"], schema, rows)
        if rec["error"]:
            print(f"perfbench: {workload} {rec['query']} FAILED: {rec['error']}", file=sys.stderr)
    return executions


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(executions: list[dict], setup_s: float) -> dict:
    ok = [e["latency_s"] for e in executions if not e["error"]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": sum(e["latency_s"] for e in executions), "unit": "s"},
        "query_geomean_s": {"value": geomean(ok) if ok else 0.0, "unit": "s"},
    }


def per_layer(executions: list[dict], spans: list[dict], session: dict, cores: int,
              host: dict) -> dict:
    """Layer totals over the pass."""
    lay = [e["layers"] for e in executions]

    def total(key: str) -> float:
        return sum(rec.get(key, 0) for rec in lay)

    wall = sum(e["latency_s"] for e in executions)
    run_s, cpu_s = total("task_run_s"), total("task_cpu_s")
    values = {
        "session.start_s": (session["start_s"], "s"),
        "session.warmup_s": (session["warmup_s"], "s"),
        "session.jvm_peak_rss_mb": (session["jvm_peak_rss_mb"], "MB"),
        "sources.input_mb": (total("input_bytes") / MB, "MB"),
        "sources.input_rows": (total("input_rows"), "count"),
        "operators.build_s": (sum(e.get("build", 0.0) for e in executions), "s"),
        "operators.build_jobs": (total("build_jobs"), "count"),
        "catalyst.optimization_s": (sum(e.get("optimize", 0.0) for e in executions), "s"),
        "catalyst.planning_s": (sum(e.get("plan", 0.0) for e in executions), "s"),
        "catalyst.analysis_ms": (total("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (total("optimization_ms"), "ms"),
        "catalyst.planning_ms": (total("planning_ms"), "ms"),
        "codegen.compiles": (total("codegen_compiles"), "count"),
        "codegen.compile_ms": (total("codegen_compile_ms"), "ms"),
        "sched.jobs": (total("jobs"), "count"),
        "sched.stages": (total("stages"), "count"),
        "sched.skipped_stages": (total("skipped_stages"), "count"),
        "sched.tasks": (total("tasks"), "count"),
        "exec.collect_s": (sum(e.get("collect", 0.0) for e in executions), "s"),
        "exec.task_run_s": (run_s, "s"),
        "exec.task_cpu_s": (cpu_s, "s"),
        "exec.cpu_ratio": (cpu_s / run_s if run_s else 0.0, "ratio"),
        "exec.core_util": (run_s / (cores * wall) if wall else 0.0, "ratio"),
        "exec.shuffle_read_mb": (total("shuffle_read_bytes") / MB, "MB"),
        "exec.shuffle_write_mb": (total("shuffle_write_bytes") / MB, "MB"),
        "exec.spill_mb": (total("spill_bytes") / MB, "MB"),
        "exec.failed_tasks": (total("failed_tasks"), "count"),
        "arrow.rows_from_python": (total("rows_from_python"), "count"),
        "arrow.mb_to_python": (total("bytes_to_python") / MB, "MB"),
        "arrow.mb_from_python": (total("bytes_from_python") / MB, "MB"),
        "streaming.batches": (total("stream_batches"), "count"),
        "streaming.input_rows": (total("stream_input_rows"), "count"),
        "streaming.trigger_s": (total("stream_triggerExecution_ms") / 1e3, "s"),
        "streaming.add_batch_s": (total("stream_addBatch_ms") / 1e3, "s"),
        "streaming.planning_s": (total("stream_queryPlanning_ms") / 1e3, "s"),
        "streaming.wal_commit_s": (total("stream_walCommit_ms") / 1e3, "s"),
        "streaming.state_rows": (total("stream_state_rows"), "count"),
        "streaming.state_commit_s": (total("stream_state_commit_ms") / 1e3, "s"),
        "cache.persisted_rdds": (max(rec["persisted_rdds"] for rec in lay), "count"),
        "cache.persisted_mb": (max(rec["persisted_bytes"] for rec in lay) / MB, "MB"),
        "host.sentinel_s": (host["sentinel_s"], "s"),
        "host.steal_frac": (host["steal_frac"], "ratio"),
        # query self time: job-group calls and the queryExecution handle,
        # the tracer's only work inside the timed pass
        "trace.overhead_s": (sum(s["self"] for s in spans if s["name"] == "query"), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def accounting(spans: list[dict], executions: list[dict], run_jobs: int | None,
               tolerance_s: float) -> dict:
    """Layer-accounting self-test of one run."""
    uncovered = {
        s["query"]: s["self"] for s in spans
        if s["name"] == "query" and s["self"] > tolerance_s
    }
    out = {"tolerance_s": tolerance_s, "query_self_over_tolerance": uncovered}
    if run_jobs is not None:
        out["query_jobs"] = sum(e["layers"]["jobs"] for e in executions)
        out["tracker_jobs"] = run_jobs
        out["stream_queries_without_batches"] = sorted(
            {e["query"] for e in executions
             if e["query"].startswith("st") and e["layers"]["stream_batches"] < 1}
        )
    return out


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir``; let Python
    workers import the engine from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the JVM's perf-data file would go to /tmp whatever java.io.tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    from perfbench.workloads import WARMUP_QUERY, pass_order

    run_dir = os.path.join(
        OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    )
    isolate(run_dir)
    # the sentinel runs with no JVM alive, before set-up and after stop
    sentinel_start = sentinel_s()
    spans = Spans()
    setup_start = cpu_jiffies()
    setup_span = spans.open("setup")

    import __spark_entry__ as entry
    from big_data_analytics_cse545_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    session_span = spans.open("session", setup_span)
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.local.dir": os.environ["TMPDIR"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        start_s = spans.close(session_span)
        warm_span = spans.open("warmup", setup_span)
        entry.all_queries()[WARMUP_QUERY](spark, DATA_DIR).collect()
        warmup_s = spans.close(warm_span)
        setup_s = spans.close(setup_span)
        setup_end = cpu_jiffies()

        from perfbench.check import Gate

        order = pass_order(args.workload, args.seed)
        gate = Gate(DATA_DIR, spark.conf.get("spark.sql.session.timeZone"))
        tracer = Tracer(spark) if args.trace else None
        pass_start = cpu_jiffies()
        executions = run_pass(spark, args.workload, order, gate, spans, tracer)
        pass_end = cpu_jiffies()
        run_jobs = tracer.run_jobs() if tracer else None
        rss_mb = 0.0
        if tracer:
            rss_mb = tracer.counters.jvm_peak_rss_mb()
            tracer.counters.close()
    finally:
        stop_span = spans.open("stop")
        stop_spark(spark)
        spans.close(stop_span)
    sentinel_end = sentinel_s()
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "warehouse"), ignore_errors=True)

    drift = abs(sentinel_end - sentinel_start) / sentinel_start
    bound = drift_bound()
    host = {
        "sentinel_start_s": sentinel_start, "sentinel_end_s": sentinel_end,
        "sentinel_s": statistics.median([sentinel_start, sentinel_end]),
        "sentinel_drift": drift,
        "setup_steal_frac": steal_frac(setup_start, setup_end),
        "steal_frac": steal_frac(pass_start, pass_end),
    }
    reasons = []
    if drift > bound:
        reasons.append(f"host sentinel moved {drift:.1%} "
                       f"({sentinel_start:.4f} s -> {sentinel_end:.4f} s)")
    for window, stolen in (("set-up", host["setup_steal_frac"]), ("the pass", host["steal_frac"])):
        if STEAL_STRETCH * stolen > bound:
            reasons.append(f"{stolen:.1%} of the CPU time wanted during {window} was stolen")
    host["contaminated"] = bool(reasons)
    failed = sum(1 for e in executions if e["error"])
    attempted = len(executions)
    session = {"start_s": start_s, "warmup_s": warmup_s, "jvm_peak_rss_mb": rss_mb}
    timed = spans.with_self_time()
    if args.trace:
        metrics = per_layer(executions, timed, session, cores, host)
    else:
        metrics = end_to_end(executions, setup_s)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "order": order, "setup_s": setup_s,
        "session": session, "host": host,
        "failed_frac": failed / attempted, "metrics": metrics,
        "accounting": accounting(timed, executions, run_jobs, tolerance_s=0.02),
        "executions": executions, "spans": timed,
    }
    with open(os.path.join(run_dir, "trace.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(f"perfbench: trace written to {os.path.join(run_dir, 'trace.json')}", file=sys.stderr)

    summary = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in metrics.items())
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: {summary}, "
          f"failed_frac={failed / attempted:.4g} ratio ({failed}/{attempted}), "
          f"host steal {host['setup_steal_frac']:.1%} in set-up, {host['steal_frac']:.1%} in the pass")
    if reasons:
        print(f"perfbench: CONTAMINATED run: {'; '.join(reasons)}")
    result = {k: v for k, v in metrics.items() if k not in ARTIFACT_ONLY}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
