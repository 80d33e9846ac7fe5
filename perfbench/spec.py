"""What the benchmark measures: workloads, metrics and their bounds.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/run.py --write-spec``) and a test keeps the two equal.
"""

from __future__ import annotations

# Input tables: perfbench/datagen.py at this scale factor and data seed.
# sf 0.1 is the scale the engine's bench.py reads; there a short read
# spends about 40 % of its time building its frame and shuffles are large
# enough for join and execution changes to show. The run's --seed sets the
# entry order of every pass, not the data, so the per-entry counts of two
# traced runs are comparable.
SCALE_FACTOR = 0.1
DATA_SEED = 42

RUN_SECONDS = 8

WORKLOADS: dict[str, dict] = {
    "reads_and_joins": {
        "why": "short batch reads (the paper's analyses A and B) and a TPC-H shuffle join: "
               "source open, planning and shuffle joins dominate",
        "entries": [
            "a_lifetime_rate_curve",
            "b1_events_per_slot",
            "tpch_q3_shipping_priority",
            "tpch_q6_revenue_forecast",
        ],
    },
    "pipelines_and_streams": {
        "why": "driver loops with pins, a Python-worker kernel, a micro-batch stream "
               "and a file write: entry build time and streaming dominate",
        "entries": [
            "pack_equal_token_shards",
            "dedup_simhash_signatures",
            "streaming_tumbling_counts",
            "source_orc_roundtrip",
        ],
    },
}

# Bounds: on a shared 4-vCPU box the quartile spread of ten runs was
# 0.07-0.15 for the timing metrics in a quiet spell and reached 0.26-0.38
# while other machines stole CPU time, so they get the largest bound
# allowed. query_p50_s follows queries_per_s and is printed in the report
# instead of gated.
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "cold_pass_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "queries_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.1},
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("sources.read_table_s", "s", "lower"),
    ("sources.read_table_jobs", "count", "lower"),
    ("sources.write_bytes", "bytes", "lower"),
    ("catalog.build_s", "s", "lower"),
    ("catalog.build_jobs", "count", "lower"),
    ("catalog.build_job_s", "s", "lower"),
    ("catalog.build_share", "ratio", "lower"),
    ("catalog.pins_left", "count", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    ("exec.force_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.input_rows", "count", "lower"),
    ("exec.output_rows", "count", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("exec.fixed_overhead_s", "s", "lower"),
    ("datapipe.worker_gap_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_s", "s", "lower"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.sink_tables_left", "count", "lower"),
    ("streaming.conf_drift", "count", "lower"),
    ("trace_overhead_ratio", "ratio", "lower"),
]

UNITS = {m["name"]: m["unit"] for m in END_TO_END} | {n: u for n, u, _ in PER_LAYER}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": END_TO_END,
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
