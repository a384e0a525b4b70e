"""Every metric the benchmark prints: name -> (unit, better).

BENCHMARK.json declares the same names and units; a test keeps the two
in step.
"""

END_TO_END = {
    "urls_per_s": ("1/s", "higher"),
    "crawl_s": ("s", "lower"),
    "resume_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}

PER_LAYER = {
    # frontier: crawler.py routing functions, bloom.py, politeness.py
    "frontier.engine_init_s": ("s", "lower"),
    "frontier.antijoin_s": ("s", "lower"),
    "frontier.antijoin_rows_in": ("count", "lower"),
    "frontier.antijoin_rows_out": ("count", "lower"),
    "frontier.bloom_pass_ratio": ("ratio", "lower"),
    "frontier.schedule_s": ("s", "lower"),
    "frontier.schedule_task_skew": ("ratio", "lower"),
    "frontier.robots_filter_s": ("s", "lower"),
    "frontier.bloom_add_keys_per_s": ("1/s", "higher"),
    "frontier.bloom_probe_keys_per_s": ("1/s", "higher"),
    # crawler wave steps, from the engine's MLS_TIMING lines
    "crawler.waves": ("count", "lower"),
    "crawler.candidates_s": ("s", "lower"),
    "crawler.route_s": ("s", "lower"),
    "crawler.docs_s": ("s", "lower"),
    "crawler.state_s": ("s", "lower"),
    "crawler.bloom_s": ("s", "lower"),
    "crawler.write_wave_s": ("s", "lower"),
    "crawler.plan_s": ("s", "lower"),
    "crawler.isempty_s": ("s", "lower"),
    "crawler.outside_loop_s": ("s", "lower"),
    # oracle, single thread in the driver process
    "oracle.convert_ms_p50": ("ms", "lower"),
    "oracle.convert_ms_p99": ("ms", "lower"),
    "oracle.links_ms_p50": ("ms", "lower"),
    "oracle.chunk_ms_p50": ("ms", "lower"),
    "oracle.normalize_url_us_p50": ("us", "lower"),
    # Arrow UDFs of functions/udfs.py, forced with a noop sink
    "udfs.convert_s": ("s", "lower"),
    "udfs.convert_docs_per_s": ("1/s", "higher"),
    "udfs.chunk_s": ("s", "lower"),
    "udfs.convert_overhead": ("ratio", "lower"),
    # checkpoint state of the resumed leg's source crawl
    "state.checkpoint_bytes": ("bytes", "lower"),
    "state.checkpoint_files": ("count", "lower"),
    "state.resume_state_s": ("s", "lower"),
    "state.seen_rows": ("count", "lower"),
    "state.frontier_rows": ("count", "lower"),
    # Spark's event log, tasks of the traced crawl's job group
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.core_busy_frac": ("ratio", "higher"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.task_skew_max": ("ratio", "lower"),
    "spark.scaling_eff_1to4": ("ratio", "higher"),
    # the traced run's own cost
    "trace.crawl_s": ("s", "lower"),
    "trace.untraced_crawl_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}
