"""Which end-to-end metric each per-layer metric should move, and where.

Each entry maps a group of per-layer metrics (named by repo module) to
the end-to-end metrics and the workloads on which a change in that layer
should show. `not_on` names workloads where it should show no change.
tests/test_schema.py checks this map against BENCHMARK.json and
workloads.py.
"""

LAYER_MAP = [
    {"metrics": ["ops.build_s", "ops.build_jobs", "ops.build_share", "ops.no_job_s"],
     "moves": ["warm_pass_s", "query_p90_s"],
     "on": ["dedup_graph", "corr_stats"], "not_on": ["bulk_scaled"]},
    {"metrics": ["exec.action_s", "exec.action_jobs", "exec.stages", "exec.tasks",
                 "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.core_util",
                 "exec.result_mb"],
     "moves": ["warm_pass_s"], "on": ["bulk_scaled"], "not_on": []},
    {"metrics": ["exec.jobs"],
     "moves": ["warm_pass_s"], "on": ["bulk_scaled", "dedup_graph"], "not_on": []},
    {"metrics": ["shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
                 "shuffle.spill_mb"],
     "moves": ["warm_pass_s"], "on": ["bulk_scaled"], "not_on": []},
    {"metrics": ["plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
                 "plans.executions", "plans.codegen_compiles"],
     "moves": ["cold_pass_s"], "on": ["corr_stats"], "not_on": []},
    {"metrics": ["sources.input_mb", "sources.input_rows"],
     "moves": ["warm_pass_s"], "on": ["bulk_scaled"], "not_on": []},
    {"metrics": ["sources.output_mb", "sources.output_rows"],
     "moves": ["warm_pass_s"], "on": ["stream_sink", "stream_sink_lite"], "not_on": []},
    {"metrics": ["memo.storage_mb"],
     "moves": ["peak_rss_mb", "warm_pass_s"], "on": ["dedup_graph"], "not_on": []},
    {"metrics": ["streaming.batches", "streaming.batch_p50_ms", "streaming.addbatch_ms",
                 "streaming.planning_ms", "streaming.walcommit_ms",
                 "streaming.state_commit_ms", "streaming.state_rows"],
     "moves": ["warm_pass_s"], "on": ["stream_sink", "stream_sink_lite"],
     "not_on": ["corr_stats", "dedup_graph", "bulk_scaled"]},
]
