"""What the benchmark runs and reports: workloads, their fixed settings and
every metric with its unit, direction and bound. `run.py --write-spec`
renders this into BENCHMARK.json at the repository root.
"""

SF = 0.01          # scale of the generated tables (60,000 lineitem rows)
DATA_SEED = 42     # fixed, so the committed digests stay valid
RUN_SECONDS = 20
XMX = "3g"

# Catalog panel: each module's median-cost entry among those that need no
# stream set-up, by the cold walls of the committed digest run
# (digests.json "entry_ms").
CATALOG_PANEL = [
    "q33_set_intersect_except",      # operators (63 eligible entries)
    "qd01_dict_zone_revenue",        # functions (1)
    "q39_auto_topk_rewrite",         # plans (2)
    "ann03_ivf_probe1",              # pipeline (91)
    "zo01_zorder_layout",            # sources (1)
    "st13_streaming_quality_gate",   # streaming (4)
    "sq01_adhoc_dialect_sql",        # sql (9)
]
# Each catalog run also digests, untimed, every CHECK_SLICES-th of the 160
# other entries that need no stream set-up (5 of them), the slice chosen by
# the seed; traced runs, which pay the stream set-up anyway, also digest every
# 4th of the 30 that do. CHECK_SLICES consecutive seeds, run untraced and
# traced, check the whole catalog.
CHECK_SLICES = 32
# Live: rows per 2 s trigger while the routes are read (20,000 rows/s, about
# 20% of saturation), and the open-loop read rate (req/s), about a third of
# the routes' closed-loop capacity, so that the box stays about half busy and
# queueing stays small.
LIVE_PACED_ROWS = 40000
LIVE_RATE = 2.0

WORKLOADS = [
    ("catalog",
     f"closed loop, 1 client, sf{SF}: each module's median-cost entry, timed warm in "
     "seed-ordered passes; planning, codegen and job dispatch outside serving"),
    ("live",
     f"minute MV saturated; the 15 routes read by 1 client; then {LIVE_PACED_ROWS} rows per 2 s "
     f"trigger while they are read open loop at {LIVE_RATE:g} req/s with an SSE tail"),
]

# name, unit, better, bound: the gated end-to-end metrics (BENCHMARK.json).
# setup_s is the CPU seconds the JVM spends before its first timed op;
# setup_wall_s below is the same span on the wall clock.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cpu_ms_per_op", "ms", "lower", 0.25),
]
# Wall-clock end-to-end figures every run also reports, and the compare tool
# judges against the same bound, but which are not gated: with other machines
# sharing the box's CPUs their quartile spread over ten runs reached 0.27-0.54,
# and the set-up wall drifted by 39% between two sets.
WALL = [
    ("setup_wall_s", "s", "lower", 0.25),
    ("lat_p50_ms", "ms", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
]

MODULES = ["operators", "functions", "plans", "pipeline", "sources", "streaming", "sql"]
MODULE_METRICS = [
    ("wall_s", "s", "lower"), ("build_s", "s", "lower"), ("exec_s", "s", "lower"),
    ("plan_ms", "ms", "lower"), ("jobs", "count", "lower"), ("build_jobs", "count", "lower"),
    ("stages", "count", "lower"), ("tasks", "count", "lower"), ("task_cpu_s", "s", "lower"),
    ("driver_gap_s", "s", "lower"), ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
]

PER_LAYER = (
    [(f"{m}.{n}", u, b) for m in MODULES for (n, u, b) in MODULE_METRICS]
    + [("codegen.compile_ms", "ms", "lower"), ("codegen.classes", "count", "lower"),
       ("codegen.fallbacks", "count", "lower"), ("gc.ms", "ms", "lower")]
    + [(f"setup.{n}", "s", "lower") for n in
       ("session_s", "provider_init_s", "warmup_s", "cascade_s", "cascade_busy_s",
        "stream_warm_s")]
    + [("sql.http_ms_p50", "ms", "lower"), ("sql.run_ms_p50", "ms", "lower"),
       ("sql.json_ms_p50", "ms", "lower"), ("sql.queue_ms_p50", "ms", "lower"),
       ("sql.req_jobs", "count", "lower"), ("sql.req_tasks", "count", "lower"),
       ("sql.req_task_cpu_ms", "ms", "lower"), ("sql.req_plan_ms", "ms", "lower"),
       ("sql.gen_late_ms_p95", "ms", "lower"), ("sql.sat_rps", "1/s", "higher")]
    + [("streaming.sat_eps", "1/s", "higher")]
    + [("streaming.batches", "count", "higher"), ("streaming.late_triggers", "count", "lower"),
       ("streaming.fresh_ms_p50", "ms", "lower")]
    + [(f"streaming.{n}_ms_p50", "ms", "lower") for n in
       ("trigger", "add_batch", "latest_offset", "query_planning", "wal_commit",
        "commit_offsets", "state_commit")]
    + [("streaming.state_rows", "count", "lower"), ("streaming.state_mem_bytes", "bytes", "lower")]
    + [("trace.overhead_ms_per_op", "ms", "lower")]
)

# Deterministic counters (repeat exactly on unchanged code) versus times,
# for the compare tool.
COUNTERS = ("jobs", "build_jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
            "classes", "fallbacks", "batches", "req_jobs", "req_tasks", "state_rows")


def is_counter(name):
    return name.split(".")[-1] in COUNTERS


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
