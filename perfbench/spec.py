"""What the benchmark measures: workloads, end-to-end metrics, per-layer
metrics, and which end-to-end metric each layer metric should move.

``python3 perfbench/spec.py`` prints the ``BENCHMARK.json`` these define.
"""
import json

RUN_SECONDS = 10

WORKLOADS = [
    ("elt_month", "the paper's monthly ELT into the star schema plus its quality "
                  "gate; the only workload that writes (etl, quality, parquet writer)"),
    ("lake_queries", "30 star-schema queries, then a cold curation pass of 5 LLM-pipeline "
                     "queries in a fresh session: planning, codegen, scheduler, ops, memos, streaming"),
]

# (name, unit, better, bound); every workload reports every one of these
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("query_p50_ms", "ms", "lower", 0.25),
    ("query_p90_ms", "ms", "lower", 0.25),
]

CURATION_QUERIES = [
    "x8_minhash_pairs", "x10_ngram_jaccard", "x28_dup_clusters", "x29_semantic_dedup",
    "x211_streaming_admission",
]

# (name, unit, better, the end-to-end metric and workload it should move)
PER_LAYER = [
    ("etl.stage_s", "s", "lower", "pass_s on elt_month"),
    ("etl.write_s", "s", "lower", "pass_s on elt_month"),
    ("etl.files_written", "count", "lower", "pass_s on elt_month"),
    ("etl.bytes_written", "bytes", "lower", "etl.stored_bytes_per_input_byte on elt_month"),
    ("etl.stored_bytes_per_input_byte", "ratio", "lower", "stored bytes on elt_month"),
    ("etl.trips_per_s", "trips/s", "higher", "pass_s on elt_month"),
    ("quality.validate_s", "s", "lower", "pass_s and query_p50_ms on elt_month"),
    ("quality.schema_s", "s", "lower", "pass_s on elt_month"),
    ("quality.jobs", "count", "lower", "pass_s on elt_month"),
    ("queries.construct_s", "s", "lower", "pass_s and query_p90_ms on lake_queries"),
    ("queries.materialize_s", "s", "lower", "query_p50_ms and query_p90_ms on lake_queries"),
    ("queries.eager_jobs", "count", "lower", "pass_s and query_p90_ms on lake_queries"),
    ("queries.star_s", "s", "lower", "query_p50_ms and pass_s on lake_queries"),
    ("queries.curation_s", "s", "lower", "query_p90_ms and pass_s on lake_queries"),
    ("plan.analysis_s", "s", "lower", "query_p50_ms on lake_queries"),
    ("plan.optimization_s", "s", "lower", "query_p50_ms on lake_queries"),
    ("plan.planning_s", "s", "lower", "query_p50_ms on lake_queries"),
    ("codegen.compiles", "count", "lower", "query_p50_ms and query_p90_ms on lake_queries"),
    ("codegen.compile_s", "s", "lower", "query_p50_ms and query_p90_ms on lake_queries"),
    ("sched.jobs", "count", "lower", "query_p50_ms on lake_queries; pass_s on lake_queries"),
    ("sched.stages", "count", "lower", "query_p50_ms on lake_queries; pass_s on lake_queries"),
    ("sched.tasks", "count", "lower", "query_p50_ms on lake_queries; pass_s on lake_queries"),
    ("sched.driver_gap_s", "s", "lower", "query_p50_ms on lake_queries; pass_s on lake_queries"),
    ("exec.cpu_s", "s", "lower", "pass_s on lake_queries and elt_month"),
    ("exec.task_s", "s", "lower", "pass_s on lake_queries and elt_month"),
    ("exec.gc_s", "s", "lower", "pass_s on lake_queries and elt_month"),
    ("exec.shuffle_mb", "MB", "lower", "pass_s on lake_queries and elt_month"),
    ("exec.shuffle_records", "count", "lower", "pass_s on lake_queries and elt_month"),
    ("exec.spill_mb", "MB", "lower", "pass_s on lake_queries and elt_month"),
    ("exec.max_task_over_median", "ratio", "lower", "pass_s on lake_queries and elt_month"),
    ("memo.hits", "count", "higher", "pass_s and query_p90_ms on lake_queries"),
    ("memo.misses", "count", "lower", "pass_s and query_p90_ms on lake_queries"),
    ("memo.hit_ratio", "ratio", "higher", "pass_s on lake_queries; must not fall"),
    ("mem.retained_mb", "MB", "lower", "none directly: blocks a pass leaves behind"),
    ("failed_ratio", "ratio", "lower", "must stay 0 on every workload"),
    ("trace.overhead_ratio", "ratio", "lower", "none: traced over untraced pass wall"),
] + [
    (f"q.{q}.{m}", unit, "lower", "pass_s and query_p90_ms on lake_queries")
    for q in CURATION_QUERIES
    for m, unit in (("construct_s", "s"), ("materialize_s", "s"), ("cpu_s", "s"),
                    ("stages", "count"))
]


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
