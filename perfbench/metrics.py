"""Names, units and directions of every metric the benchmark reports.

BENCHMARK.json at the repository root lists the same metrics;
test_perfbench.py keeps the two in step.
"""

WORKLOADS = ["bulk_restructure", "catalog_core"]

# one or more queries per layer: dedup (the set-similarity family and
# MinHash), text and catalyst kernels, functions (public suffix list),
# operators through the Queries.reuse seam, pipelines through the
# Lineage.truncate seam
CATALOG_QUERIES = [
    "jaccard_ppjoin", "containment_ppjoin", "subset_ppjoin", "minhash_neardup",
    "chunk_dedup", "contamination_spans", "url_dedup", "interval_overlap", "corpus_curate",
]

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "warm_pass_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "records_per_s", "unit": "records/s", "better": "higher", "bound": 0.25},
]

PER_LAYER_SPEC = [
    # restructure: list and plan
    ("restructure.list_s", "s", "lower"),
    ("restructure.files_listed", "count", "lower"),
    ("restructure.plan_s", "s", "lower"),
    ("restructure.plan_yield", "ratio", "higher"),
    # avro: header scan and decode
    ("avro.header_scan_s", "s", "lower"),
    ("avro.files_scanned", "count", "lower"),
    ("avro.decode_s", "s", "lower"),
    ("avro.decode_ns_per_record", "ns", "lower"),
    ("avro.bytes_read", "B", "lower"),
    # functions: derive and time-bin
    ("functions.derive_ns_per_record", "ns", "lower"),
    # operators and state: seen-filter, dedup, flatten, ranges
    ("restructure.filter_seen_s", "s", "lower"),
    ("restructure.seen_drop_ratio", "ratio", "higher"),
    ("operators.dedup_s", "s", "lower"),
    ("operators.dedup_keep_ratio", "ratio", "higher"),
    ("operators.dedup_shuffle_write_mb", "MB", "lower"),
    ("operators.dedup_spill_mb", "MB", "lower"),
    ("operators.flatten_encode_s", "s", "lower"),
    ("compression.gzip_s", "s", "lower"),
    ("operators.ranges_s", "s", "lower"),
    # restructure: write and commit
    ("restructure.write_s", "s", "lower"),
    ("restructure.write_task_s", "s", "lower"),
    ("restructure.files_written", "count", "lower"),
    ("restructure.bytes_written", "B", "lower"),
    ("restructure.source_scans_per_pass", "count", "lower"),
    ("restructure.commit_s", "s", "lower"),
    ("state.ranges", "count", "lower"),
    ("state.json_bytes", "B", "lower"),
    ("restructure.spark_jobs_per_topic", "count", "lower"),
    ("restructure.driver_idle_s", "s", "lower"),
    # cleaner
    ("cleaner.candidates_s", "s", "lower"),
    ("cleaner.extract_s", "s", "lower"),
    ("cleaner.verify_s", "s", "lower"),
    ("cleaner.delete_s", "s", "lower"),
    ("cleaner.verified_ratio", "ratio", "higher"),
    # Spark stage metrics of the traced operation
    ("spark.task_s", "s", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.peak_exec_mem_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.stages", "count", "lower"),
    # catalog: each query's warm minimum
    *[(f"catalog.{q}_s", "s", "lower") for q in CATALOG_QUERIES],
    # set-up
    ("setup.session_s", "s", "lower"),
    ("setup.warm_s", "s", "lower"),
    # the operations themselves, untraced
    ("peak_rss_mb", "MB", "lower"),
    ("output_files", "count", "lower"),
    ("output_bytes_per_record", "B", "lower"),
    ("error_rate", "fraction", "lower"),
    # the trace itself
    ("untraced_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

PER_LAYER = {name: unit for name, unit, _ in PER_LAYER_SPEC}
