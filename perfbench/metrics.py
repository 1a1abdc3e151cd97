"""The benchmark's metric names and units, in report order.

BENCHMARK.json lists the same names; every workload reports every one.
A per-layer metric a workload does not exercise reads 0.
"""
# query_suite runs and is checked like the others, but BENCHMARK.json does
# not list it: its run-to-run spread is too wide to gate (see README.md).
WORKLOADS = ["etl_star", "curation_corpus", "query_suite"]

END_TO_END = [
    ("setup_s", "s"),
    ("heap_peak_mb", "MB"),
    ("items_per_s", "1/s"),
    ("op_p50_s", "s"),
]

# The end-to-end metrics under the names each workload gives them.
ALIASES = {
    "etl_star": [("setup_s", "setup_s"), ("heap_peak_mb", "heap_peak_mb"),
                 ("etl.rows_per_s", "items_per_s"), ("etl.cycle_p50_s", "op_p50_s")],
    "curation_corpus": [("setup_s", "setup_s"), ("heap_peak_mb", "heap_peak_mb"),
                        ("curation.docs_per_s", "items_per_s"),
                        ("curation.pass_p50_s", "op_p50_s")],
    "query_suite": [("setup_s", "setup_s"), ("heap_peak_mb", "heap_peak_mb"),
                    ("query.qps", "items_per_s"), ("query.p50_s", "op_p50_s")],
}

OPERATOR_FILES = ["CapstonePipeline", "Checks", "CurationPipeline", "Dedup",
                  "SubstringDedup", "Winnowing", "ConnectedComponents", "IvfPq",
                  "Louvain", "PageRank", "SetSimilarityJoin", "LocalProbe", "other"]
CURATION_STAGES = ["input", "language_gate", "exact_dedup", "near_dedup",
                   "substring_gate", "containment_gate", "winnow_gate", "decontaminate",
                   "quality_gate", "adaptive_quality", "repetition_gate",
                   "perplexity_gate", "domain_cap", "hash_sample"]
KERNELS = ["vec_dot", "md5_prefix", "minhash", "sas_to_date", "adc"]
ETL_TABLES = ["immigration", "i94visa", "i94mode", "us_cities_demographics",
              "country", "i94date"]

PER_LAYER = (
    [("session.create_s", "s"), ("session.warmup_s", "s"),
     ("query.build_s", "s"), ("query.build_share", "ratio"),
     ("catalyst.plan_s", "s"), ("catalyst.qe_count", "count")] +
    [("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
     ("sched.jobs_per_s", "1/s"), ("sched.job_busy_s", "s"),
     ("sched.driver_idle_s", "s"), ("sched.idle_share", "ratio"),
     ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"),
     ("shuffle.spill_bytes", "B"), ("scan.bytes_read", "B"),
     ("scan.records_read", "count"),
     ("mat.ckpt_jobs", "count"), ("mat.ckpt_s", "s"), ("mat.storage_peak_bytes", "B")] +
    [m for f in OPERATOR_FILES for m in ((f"op.{f}.job_s", "s"), (f"op.{f}.jobs", "count"))] +
    [(f"curation.stage.{s}.s", "s") for s in CURATION_STAGES + ["pack_sink"]] +
    [(f"curation.stage.{s}.kept_ratio", "ratio") for s in CURATION_STAGES] +
    [m for k in KERNELS for m in ((f"kernel.{k}.ns_per_row", "ns"),
                                  (f"kernel.{k}.twin_ratio", "ratio"))] +
    [("etl.stage_s", "s"), ("etl.gate_s", "s")] +
    [(f"etl.write.{t}.s", "s") for t in ETL_TABLES] +
    [("etl.bytes_written", "B"), ("etl.files_written", "count"), ("etl.write_amp", "ratio"),
     ("quality.s", "s"), ("quality.jobs", "count"),
     ("jvm.gc_s", "s"), ("jvm.codecache_mb", "MB"),
     ("trace.overhead.items_per_s", "1/s"), ("trace.overhead.op_p50_s", "s")]
)
