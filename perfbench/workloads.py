"""The benchmark's workloads and metric names: the one registry that
run.py, trace.py, the tests and BENCHMARK.json agree on."""

# Each workload: generated input size, the fixed operation order (run
# once cold, then warm until --seconds are spent), and why it is here.
WORKLOADS = {
    "polysemy": {
        "why": "the paper's pipeline (N-Quads, cleaning, LDA, polysemy eval, "
               "classifier) plus one curation kernel per text module: model "
               "fits, memoized substrates and text kernels dominate",
        "sf": 0.001, "docs": 500,
        "ops": ["q_nquads_parse", "q_clean_english", "q_lda_topics",
                "q_polysemy_eval", "q_eval_metrics", "q_classify_lr",
                "q_lang_id", "q_blocklist", "q_dedup_exact", "q_knn_search"],
    },
    "tables": {
        "why": "relational reads beside the write path: joins, a graph loop, a "
               "copy-on-write merge, a change feed and a stateful stream "
               "draining a staged backlog; no text kernels or model fits",
        "sf": 0.002, "docs": 500,
        "ops": ["q13_custdist", "q_copurchase", "q_connected_components",
                "q_table_diff", "q_nquads_source", "CowTable.create",
                "CowTable.merge", "CowTable.changes", "EventStream.windowedCounts"],
    },
}

# Load model: one client, closed loop, cores = nproc, this JVM heap.
HEAP = "2g"
SETUPS = 3
STREAM_FILES = 1

# Bounds: on a shared 4-core machine the spread (interquartile range over
# median, ten seeds) of cold_s and warm_s is about 7-15 %, and of setup_s
# up to 20 %, while the machine's speed holds; but the machine switches
# for minutes at a time between speeds up to 2x apart, so all three get
# the largest bound allowed. cached_mb and heap_peak_mb (live heap after
# full collections) repeat within 3 %.
END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("cold_s", "s", "lower", 0.25),
    ("warm_s", "s", "lower", 0.25),
    ("cached_mb", "MB", "lower", 0.15),
    ("heap_peak_mb", "MB", "lower", 0.1),
]

# The operator modules whose queries the workloads run, by SparkEntry
# module name.
MODULES = ["TextPrep", "TopicModeling", "PolysemyEval", "Classification",
           "Evaluation", "NQuads", "TextAnalysis", "TextScoring", "Dedup",
           "SimilaritySearch", "Tpch", "Relational", "ScaleOps"]

# Metrics of one pass, reported as cold.<name> and warm.<name>.
PASS_METRICS = [
    ("spark.sql_executions", "count"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.driver_gap_s", "s"), ("spark.slot_util", "ratio"),
    ("plans.planning_s", "s"), ("plans.exchanges", "count"),
    ("plans.smj", "count"), ("plans.bhj", "count"), ("plans.bnlj", "count"),
    ("ModelCache.builds", "count"), ("ModelCache.build_s", "s"),
    ("ModelCache.cached_bytes", "bytes"),
    ("sources.scan_bytes", "bytes"), ("sources.scan_rows", "count"),
    ("sources.write_bytes", "bytes"), ("sources.write_rows", "count"),
    ("sources.CowTable.merge_s", "s"),
    ("streaming.batches", "count"), ("streaming.batch_p50_s", "s"),
    ("streaming.rows_per_s", "1/s"), ("streaming.state_rows", "count"),
    ("pass.self_s", "s"),
]

# Per operator module, summed over the cold pass and the median warm pass.
MODULE_METRICS = [("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"),
                  ("jobs", "count"), ("executor_cpu_s", "s")]

# process.setup_s is the first set-up alone, timed from process start:
# the once-per-process start-up that the median in setup_s leaves out.
SINGLE_METRICS = [("process.setup_s", "s"),
                  ("GraftSession.local_s", "s"), ("ModelCache.warm_builds", "count"),
                  ("trace.overhead_s", "s")]


# Per-layer metrics where a larger value is the better one; for every
# other per-layer metric lower is better.
HIGHER_IS_BETTER = {"spark.slot_util", "plans.bhj", "streaming.rows_per_s"}


def all_layers():
    """[(name, unit)] of every per-layer metric the traced run prints."""
    out = list(SINGLE_METRICS)
    out += [(f"{p}.{n}", u) for p in ("cold", "warm") for n, u in PASS_METRICS]
    out += [(f"operators.{m}.{n}", u) for m in MODULES for n, u in MODULE_METRICS]
    return out


# Times and rates that can read exactly 0 on every run of some workload:
# those of a layer the workload never calls (a module's operators, CowTable
# merges, stream batches), task GC time, and warm model builds (0 by
# design). The traced run prints them and keeps them in its trace file, but
# leaves them out of its JSON result, where every time is a measured,
# varying value.
ZERO_IN_SOME_WORKLOAD = {"sources.CowTable.merge_s", "streaming.batch_p50_s",
                         "streaming.rows_per_s", "spark.gc_s",
                         "warm.ModelCache.build_s"}


def per_layer():
    """[(name, unit, better)] of the per-layer metrics in the traced run's
    JSON result (BENCHMARK.json's per_layer)."""
    def kept(name):
        if name.startswith("operators."):
            return name.rsplit(".", 1)[1] in ("build_jobs", "jobs")
        return name not in ZERO_IN_SOME_WORKLOAD and \
            name.split(".", 1)[1] not in ZERO_IN_SOME_WORKLOAD
    return [(n, u, "higher" if n.split(".", 1)[-1] in HIGHER_IS_BETTER else "lower")
            for n, u in all_layers() if kept(n)]
