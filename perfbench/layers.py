"""Metric names and units the benchmark reports (BENCHMARK.json lists the
same names; perfbench/METRICS.md says what each one measures)."""

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "peak_rss_mb": "MB",
}

#: the nine refresh steps of plans.pipeline.refresh_analytics, plus the alert
JOB_STEPS = (
    "validate_categories", "summary", "balance_changes", "available_changes",
    "category_changes", "country_changes", "category_statistics",
    "country_statistics", "available_statistics", "analyze_tables",
    "significant_changes",
)

#: per-round counters of the catalog ``metrics`` table reported as exact
#: counts (summed over the first COUNTED_ROUNDS rounds)
CRAWL_COUNTS = (
    "fetched", "robots_denied", "budget_deferred", "links_extracted",
    "links_seen_dropped", "new_frontier",
)

PER_LAYER = {
    # plans.rounds
    "rounds.spark_jobs_per_round": "count",
    "rounds.stages_per_round": "count",
    "rounds.tasks_per_round": "count",
    "rounds.core_util": "ratio",
    "rounds.index_s": "s",
    "rounds.resume_s": "s",
    # sources.catalog
    "catalog.commit_s": "s",
    "catalog.files_written_per_round": "count",
    "catalog.bytes_written_per_round": "bytes",
    "catalog.read_s": "s",
    "catalog.compact_s": "s",
    # operators.seen
    "seen.bloom_full_build_s": "s",
    "seen.bloom_inc_build_s": "s",
    "seen.probe_s": "s",
    "seen.maybe_seen_ratio": "ratio",
    "seen.bloom_fp_ratio": "ratio",
    "seen.ledger_keys": "count",
    "seen.bloom_bytes": "bytes",
    # functions.udfs, operators.politeness, operators.frontier
    "udfs.canon_s": "s",
    "udfs.extract_s": "s",
    "politeness.gate_s": "s",
    "frontier.rank_s": "s",
    # plans.jobs / plans.pipeline
    **{f"jobs.{s}_s": "s" for s in JOB_STEPS},
    "jobs.spark_jobs": "count",
    # Spark, per operation
    "spark.task_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    # exact crawl counts from the catalog metrics table
    **{f"crawl.{c}": "count" for c in CRAWL_COUNTS},
    # (candidates - budget_deferred) per second of round time, as bench.py
    "crawl.urls_per_s": "1/s",
    # the traced run itself
    "trace.op_s_p50": "s",
    "trace.overhead_s": "s",
}
