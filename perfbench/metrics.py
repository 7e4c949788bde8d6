"""The benchmark's metric catalogue: the names BENCHMARK.json lists,
with units. Every workload reports every metric; a per-layer metric of
a layer the workload does not exercise reports 0 (see README.md)."""

from __future__ import annotations

END_TO_END = (
    ("setup_s", "s"),
    ("latency_ms", "ms"),
)

#: The analytics legs, frozen here so that a rewrite of the
#: repository's bench script does not change what is measured: its 34
#: headline queries, then the bulk store.
ANALYTICS_LEGS = (
    "points_ingest",
    "points_reverse",
    "index_table",
    "tagged_table",
    "series_dedup",
    "rollup_all",
    "read_series",
    "tpch_q1",
    "top_revenue_orders",
    "dedup_exact",
    "text_features",
    "token_counts",
    "minhash_lsh_pairs",
    "simhash",
    "ann_topk",
    "cosine_pairs",
    "multimodal_features",
    "window_funnel",
    "sequence_count",
    "top_event_types",
    "quantile_sketch",
    "histogram_adaptive",
    "ch_agg_breadth",
    "histogram_adaptive_sketch",
    "stat_moments",
    "lttb_downsample",
    "two_sample_tests",
    "contingency_stats",
    "rank_corr",
    "theils_u",
    "exp_smoothing",
    "corr_matrix",
    "top_k_sketch",
    "ch_agg_breadth2",
    "store_tables",
)

REQUEST_TYPES = (
    "find",
    "render_one",
    "render_sum",
    "render_alias",
    "render_top",
    "render_tag",
    "tag_values",
)

SPARK_COUNTERS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_run_ms", "ms"),
    ("task_cpu_ms", "ms"),
    ("python_gap_ms", "ms"),
    ("shuffle_bytes", "B"),
    ("spill_bytes", "B"),
    ("schema_jobs", "count"),
)

#: The per-micro-batch subset of SPARK_COUNTERS.
BATCH_COUNTERS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "shuffle_bytes")

PROGRESS_PHASES = (
    "addBatch",
    "queryPlanning",
    "latestOffset",
    "getBatch",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
)

WRITE_TABLES = ("points", "points_reverse", "index", "tagged")

ISOLATED_CALLS = (
    ("sources", "parse_plain_lines"),
    ("pipeline", "derive_tables"),
    ("operators", "build_index"),
    ("operators", "build_tagged"),
    ("operators", "new_series_only"),
    ("pipeline", "write_tables"),
)


def per_layer() -> tuple[tuple[str, str], ...]:
    out = [
        ("session.start_s", "s"),
        ("peak_rss_mb", "MB"),
        ("ops", "count"),
        ("op_tail_pct", "%"),
        ("op_tail_ms", "ms"),
        ("drift_ratio", "ratio"),
        ("trace.latency_ms", "ms"),
        ("trace.overhead_ms_per_op", "ms"),
    ]
    for k, unit in SPARK_COUNTERS:
        out.append((f"spark.{k}_per_op", unit))
        out.append((f"spark.{k}_total", unit))
    out += [(f"streaming.batch.{k}", unit) for k, unit in SPARK_COUNTERS if k in BATCH_COUNTERS]
    out += [(f"streaming.progress.{p}_ms", "ms") for p in PROGRESS_PHASES]
    out += [
        ("streaming.commits", "count"),
        ("streaming.commit_p50_ms", "ms"),
        ("streaming.wait_ms", "ms"),
        ("streaming.batches_per_op", "ratio"),
        ("streaming.history_commit_ms", "ms"),
        ("streaming.warm_last_ms", "ms"),
    ]
    out += [(f"pipeline.files_written.{t}", "count") for t in WRITE_TABLES + ("dropped",)]
    out += [(f"pipeline.rows_written.{t}", "count") for t in WRITE_TABLES]
    out += [
        ("pipeline.bytes_stored_per_point", "B"),
        ("operators.series_new_ratio", "ratio"),
    ]
    out += [(f"{layer}.{name}_ms", "ms") for layer, name in ISOLATED_CALLS]
    for kind in REQUEST_TYPES:
        out += [
            (f"query.request.{kind}_ms", "ms"),
            (f"query.request.{kind}.jobs", "count"),
            (f"query.request.{kind}.input_rows", "count"),
        ]
    out += [
        ("query.parse_target_ms", "ms"),
        ("query.find_ms", "ms"),
        ("query.evaluate_target_ms", "ms"),
        ("query.http_overhead_ms", "ms"),
    ]
    out += [(f"leg.{name}_s", "s") for name in ANALYTICS_LEGS]
    return tuple(out)


PER_LAYER = per_layer()
