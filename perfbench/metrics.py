"""Every metric the benchmark reports: name -> (unit, better).

BENCHMARK.json lists the same names (perfbench/test_perfbench.py
holds the two together).  With --trace 0 a run reports END_TO_END;
with --trace 1 it reports PER_LAYER.  Every workload reports every
name; a layer that a workload's rounds never call reports 0.
"""

END_TO_END = {
    "setup_s": ("s", "lower"),
    "round_p50_s": ("s", "lower"),
    "units_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "listing.list_s": ("s", "lower"),
    "listing.objects": ("count", "lower"),
    "parse.scan_s": ("s", "lower"),
    "parse.parse_s": ("s", "lower"),
    "parse.lines_in": ("count", "lower"),
    "parse.rows_ok": ("count", "higher"),
    "parse.dead_letter_rows": ("count", "lower"),
    "parse.ok_ratio": ("ratio", "higher"),
    "compact.exchange_sort_s": ("s", "lower"),
    "compact.write_s": ("s", "lower"),
    "compact.files_out": ("count", "lower"),
    "compact.bytes_out": ("bytes", "lower"),
    "compact.bytes_out_per_in": ("ratio", "lower"),
    "cli.day_job_s": ("s", "lower"),
    "cli.overhead_s": ("s", "lower"),
    "presto.translate_s": ("s", "lower"),
    "presto.exec_s": ("s", "lower"),
    "scan.files_read": ("count", "lower"),
    "scan.bytes_read": ("bytes", "lower"),
    "scan.rows_read": ("count", "lower"),
    "scan.rows_per_result": ("ratio", "lower"),
    "dedup.fingerprint_s": ("s", "lower"),
    "dedup.signatures_s": ("s", "lower"),
    "dedup.candidates_s": ("s", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.pairs_kept": ("count", "higher"),
    "dedup.kept_ratio": ("ratio", "higher"),
    "similarity.semantic_dedup_s": ("s", "lower"),
    "similarity.cells": ("count", "higher"),
    "similarity.kept": ("count", "lower"),
    "textstats.bm25_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "bench.cached_rdds_after_round": ("count", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}
