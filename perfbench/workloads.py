"""The benchmark's workloads: which registered queries each pass runs.

Query names are keys of ``__spark_entry__.all_queries()``. Each workload
is a fixed subset of the family it stands for, sized so that set-up plus
its pass stays near half a minute on a 4-core box: every run starts a
new driver JVM, and comparing two commits takes tens of runs per
workload. The seed only permutes the order of the queries in the pass.
"""

from __future__ import annotations

import random

WARMUP_QUERY = "q01_pricing_summary"

# Why each workload exists is in BENCHMARK.json and README.md.
WORKLOADS: dict[str, list[str]] = {
    # every third query from q02: twelve ~1 s queries, so that no one
    # query's noise moves the pass much, and a pass of about ten seconds
    "sql_star": [
        "q02_revenue_by_nation",
        "q05_customers_without_orders",
        "q08_rollup_region_nation",
        "q11_distinct_and_conditional_agg",
        "q14_events_by_month_type",
        "q17_grouping_sets",
        "q20_approx_distinct",
        "q23_event_funnel",
        "q26_pivot",
        "q29_skew_safe_distinct",
        "q32_approx_percentiles",
        "q35_recursive_cte",
    ],
    # one query with Python UDFs: the first such query of a driver starts
    # the Python workers, and with two of them (d11 too) that cost landed
    # on whichever came first and swung the geomean by a quarter between
    # seeds
    "llm_dedup": [
        "d05_embedding_near_dup",
        "d08_dup_clusters",
    ],
    "streaming": [
        "st02_sliding_window",
        "st07_stream_static_join",
    ],
}

# Row count and schema of queries that have no DuckDB twin, at the
# benchmark's own data (perfbench/data).
EXPECTED_SHAPE: dict[str, tuple[int, str]] = {}

# Per-query counts that did not repeat between two traced runs with the
# same seed (report.py repeat). No count claim may rest on these.
NON_REPEATABLE: dict[str, list[str]] = {
    # seed 7: 12 vs 11 compiles
    "q26_pivot": ["codegen_compiles"],
    # seed 7: 76 vs 78 compiles; seed 8: 78 vs 75 compiles and
    # 579508 vs 579618 shuffle bytes read
    "d08_dup_clusters": ["codegen_compiles", "shuffle_read_bytes"],
}


def pass_order(workload: str, seed: int) -> list[str]:
    names = list(WORKLOADS[workload])
    random.Random(seed).shuffle(names)
    return names
