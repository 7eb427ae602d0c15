"""Read the run artifacts that perfbench/run.py leaves in perfbench/out/.

    python3 perfbench/report.py summary [WORKLOAD]
        per query: median and tail latency across untraced runs; per
        metric: median and quartile spread across runs, over all runs and
        over the runs not labelled contaminated; contaminated runs.

    python3 perfbench/report.py repeat TRACE_A TRACE_B
        compare two traced runs of one workload and seed, query by query,
        on the counts that should repeat exactly. Exits 1 when a count
        drifts that workloads.NON_REPEATABLE does not already name.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from perfbench.workloads import NON_REPEATABLE  # noqa: E402

REPEAT_COUNTS = (
    "jobs", "stages", "tasks", "codegen_compiles",
    "shuffle_read_bytes", "shuffle_write_bytes",
)


def load(path: str) -> dict:
    if os.path.isdir(path):
        path = os.path.join(path, "trace.json")
    with open(path) as fh:
        return json.load(fh)


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median (0 below 2 values)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def tail(values: list[float]) -> float:
    """The 90th percentile, or the maximum below ten values."""
    if len(values) < 10:
        return max(values)
    return statistics.quantiles(values, n=10)[-1]


def summary(workload: str | None) -> int:
    runs = [load(p) for p in sorted(glob.glob(os.path.join(BENCH_DIR, "out", "*", "trace.json")))]
    runs = [r for r in runs if workload in (None, r["workload"])]
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w]
        untraced = [r for r in mine if not r["trace"]]
        print(f"{w}: {len(untraced)} untraced, {len(mine) - len(untraced)} traced runs")
        metrics: dict[str, list[float]] = {}
        clean: dict[str, list[float]] = {}
        for r in untraced:
            for k, v in r["metrics"].items():
                metrics.setdefault(k, []).append(v["value"])
                if not r["host"]["contaminated"]:
                    clean.setdefault(k, []).append(v["value"])
        for k, v in metrics.items():
            c = clean.get(k, [])
            print(f"  {k}: median {statistics.median(v):.4g} spread {spread(v):.3f} (n={len(v)}); "
                  + (f"uncontaminated median {statistics.median(c):.4g} spread {spread(c):.3f} "
                     f"(n={len(c)})" if c else "no uncontaminated run"))
        latency: dict[str, list[float]] = {}
        for r in untraced:
            for e in r["executions"]:
                if not e["error"]:
                    latency.setdefault(e["query"], []).append(e["latency_s"])
        for q, v in sorted(latency.items()):
            print(f"  {q}: median {statistics.median(v):.3f} s tail {tail(v):.3f} s (n={len(v)})")
        dirty = [f"seed {r['seed']}" for r in mine if r["host"]["contaminated"]]
        if dirty:
            print(f"  contaminated: {', '.join(dirty)}")
    return 0


def per_query_counts(run: dict) -> dict[str, dict]:
    return {
        e["query"]: {k: e["layers"][k] for k in REPEAT_COUNTS}
        for e in run["executions"]
    }


def repeat(path_a: str, path_b: str) -> int:
    a, b = load(path_a), load(path_b)
    if not (a["trace"] and b["trace"]):
        raise SystemExit("repeat needs two traced runs (--trace 1)")
    if (a["workload"], a["seed"]) != (b["workload"], b["seed"]):
        raise SystemExit("repeat needs two runs of the same workload and seed")
    ca, cb = per_query_counts(a), per_query_counts(b)
    unexpected = 0
    for q in sorted(ca):
        drift = [k for k in REPEAT_COUNTS if ca[q][k] != cb.get(q, {}).get(k)]
        if not drift:
            print(f"{q}: repeats")
            continue
        known = set(NON_REPEATABLE.get(q, ()))
        for k in drift:
            mark = "non-repeatable (known)" if k in known else "DRIFTS"
            unexpected += k not in known
            print(f"{q}: {k} {ca[q][k]} vs {cb.get(q, {}).get(k)} {mark}")
    return 1 if unexpected else 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["summary"] and len(argv) <= 2:
        return summary(argv[1] if len(argv) == 2 else None)
    if argv[:1] == ["repeat"] and len(argv) == 3:
        return repeat(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
