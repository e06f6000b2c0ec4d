"""What the benchmark measures: workloads, metrics and their meaning.

`python3 perfbench/run.py --write-benchmark-json` renders this into the
checkout's BENCHMARK.json; run.py reads the metric lists from here.
"""

RUN_SECONDS = 20

WORKLOADS = [
    ("daily_build",
     "fresh-process Pipeline.runDaily over a seeded 3-day history: sessionize,"
     " six golds, replaceAll swaps and compaction; no incremental code"),
    ("microbatch",
     "seeded runDailyIncremental warehouse, then hourly bronze batches with"
     " redeliveries and late events: incremental silver/gold, change logs,"
     " join view"),
]

# The read-side query mix runs with `--workload query_mix`; it is not a
# BENCHMARK.json workload (see README.md), and its per-layer metrics come from the
# daily_build traced run.
EXTRA_WORKLOADS = ["query_mix"]

END_TO_END = [
    # (name, unit, better, bound)
    ("op_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

GOLDS = ["user_daily", "episode_daily", "webtoon_daily",
         "platform_device_daily", "country_daily", "user_sketch"]

QUERIES = [("text", "dedup_minhash_lsh"), ("text", "dedup_incremental"),
           ("text", "retrieve_tfidf_topk"), ("sim", "sim_pq_topk"),
           ("sim", "eval_knn_labels"), ("ops", "join_interval_overlap"),
           ("ops", "graph_pagerank_episodes"),
           ("runtime", "cdc_joinview_orders_mkt"),
           ("runtime", "cdc_view_orders_priority"),
           ("tpch", "q21_suppliers_waiting")]

UNITS = {"self_s": "s", "overhead_s": "s", "jobs": "count",
         "shuffle_bytes": "B", "output_bytes": "B", "input_bytes": "B",
         "files_rewritten": "count", "affected_users": "count",
         "affected_dates": "count", "rows_written": "count",
         "useful_ratio": "ratio"}


def _layer(span, *fields):
    return [f"{span}.{f}" for f in fields]


# Per-layer metrics, grouped by the traced run that measures them.
DAILY_LAYERS = (
    _layer("silver.build", "self_s", "jobs", "shuffle_bytes", "output_bytes")
    + _layer("runtime.bucketed_layout", "self_s", "jobs")
    + _layer("ingest.quarantine", "self_s", "jobs")
    + [m for g in GOLDS
       for m in _layer(f"gold.{g}", "self_s", "jobs", "shuffle_bytes")]
    + _layer("runtime.compaction", "self_s", "jobs", "files_rewritten")
    + _layer("runtime.vacuum", "self_s"))
MICRO_LAYERS = (
    _layer("runtime.incremental_silver", "self_s", "jobs", "input_bytes",
           "shuffle_bytes", "affected_users", "affected_dates")
    + _layer("ingest.quarantine_delta", "self_s")
    + [m for g in GOLDS
       for m in _layer(f"runtime.incremental_gold.{g}", "self_s", "jobs",
                       "rows_written", "useful_ratio")]
    + _layer("streaming.gold_join_view", "self_s", "jobs")
    + _layer("runtime.sketch_rolling_wau", "self_s")
    + _layer("gold.point_read", "self_s")
    + _layer("trace.microbatch", "overhead_s"))
QUERY_LAYERS = [m for mod, q in QUERIES
                for m in _layer(f"{mod}.{q}", "self_s", "jobs",
                                "shuffle_bytes")]

PER_LAYER = DAILY_LAYERS + MICRO_LAYERS + QUERY_LAYERS

# Which traced run measures which layers (the others read 0 there).
TRACED_LAYERS = {"daily_build": DAILY_LAYERS + QUERY_LAYERS,
                 "microbatch": MICRO_LAYERS,
                 "query_mix": QUERY_LAYERS}


def unit(metric):
    return UNITS[metric.rsplit(".", 1)[1]]


def better(metric):
    return "higher" if metric.endswith(".useful_ratio") else "lower"


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": m, "unit": unit(m), "better": better(m)}
                      for m in PER_LAYER],
    }
