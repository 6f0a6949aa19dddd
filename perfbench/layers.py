"""Per-layer metrics: name, unit, the workload that exercises the
layer, and the end-to-end figure it should move. A traced run prints
every metric listed here; a layer its workload does not exercise
reads 0. ``BENCHMARK.json`` lists the same names."""

from __future__ import annotations

ALL = "all"
QUERY_CLASSES = ("point", "range_agg", "join", "gold", "bronze", "capped", "dialect")
CURATION_STAGES = (
    "exact_dedup", "near_dedup", "span_dedup", "decontaminate",
    "quality", "length", "repetition", "assign_splits",
)

# (name, unit, workload, end-to-end figure it should move)
LAYERS: list[tuple[str, str, str, str]] = [
    ("session.start_s", "s", ALL, "setup_s"),
    ("lake.open_s", "s", ALL, "setup_s"),
    ("preload_s", "s", ALL, "setup_s"),
    ("trace.op_ms_p50", "ms", ALL, "op_ms_p50 (traced minus untraced = overhead)"),
    ("trace.cpu_ms_per_op", "ms", ALL, "cpu_ms_per_op (traced minus untraced = overhead)"),
    ("serving.http_overhead_ms_p50", "ms", "serve_mix", "query_ms_p50"),
    ("plans.frontend_ms_p50", "ms", "serve_mix", "query_ms_p50"),
    ("query.plan_ms_p50", "ms", "serve_mix", "query_ms_p50"),
    ("query.collect_ms_p50", "ms", "serve_mix", "query_ms_p95"),
    ("query.collect_ms_p95", "ms", "serve_mix", "query_ms_p95"),
]
for _c in QUERY_CLASSES:
    LAYERS += [
        (f"query.{_c}.latency_ms_p50", "ms", "serve_mix", "query_ms_p50"),
        (f"query.{_c}.jobs", "count", "serve_mix", "query_ms_p95"),
        (f"query.{_c}.tasks", "count", "serve_mix", "queries_per_s"),
        (f"query.{_c}.cpu_ms", "ms", "serve_mix", "queries_per_s"),
        (f"query.{_c}.shuffle_bytes", "B", "serve_mix", "query_ms_p95"),
    ]
LAYERS += [
    ("bronze.ingest_ms_p50", "ms", "cdc_upsert", "ingest_ms_p50"),
    ("bronze.validate_ms_p50", "ms", "cdc_upsert", "ingest_ms_p50"),
    ("bronze.records_rejected", "count", "cdc_upsert", "failed_ops_ratio"),
    ("bronze.bytes_written", "B", "cdc_upsert", "silver_bytes_per_row"),
    ("bronze.list_objects_ms_first", "ms", "cdc_upsert", "silver_fresh_s_p50"),
    ("bronze.list_objects_ms_last", "ms", "cdc_upsert", "silver_fresh_s_p50"),
    ("bronze.objects_listed_last", "count", "cdc_upsert", "silver_fresh_s_p50"),
    ("silver.process_s_p50", "s", "cdc_upsert", "silver_fresh_s_p50"),
    ("silver.jobs", "count", "cdc_upsert", "silver_fresh_s_p50"),
    ("silver.tasks", "count", "cdc_upsert", "silver_fresh_s_p50"),
    ("silver.cpu_ms", "ms", "cdc_upsert", "silver_fresh_s_p50"),
    ("silver.dedup_ratio", "ratio", "cdc_upsert", "rows_per_s"),
    ("catalog.merge_s_p50", "s", "cdc_upsert", "silver_fresh_s_p50"),
    ("catalog.files_rewritten_per_merge", "count", "cdc_upsert", "rows_per_s"),
    ("catalog.files_untouched_per_merge", "count", "cdc_upsert", "rows_per_s"),
    ("catalog.write_amp", "ratio", "cdc_upsert", "silver_bytes_per_row"),
    ("catalog.files_total", "count", "cdc_upsert", "silver_bytes_per_row"),
    ("catalog.delete_insert_s_p50", "s", "cdc_upsert", "gold_fresh_s"),
    ("catalog.create_or_replace_s_p50", "s", "cdc_upsert", "gold_fresh_s"),
    ("gold.daily_revenue.job_s_p50", "s", "cdc_upsert", "gold_fresh_s"),
    ("gold.report.job_s_p50", "s", "cdc_upsert", "gold_fresh_s"),
    ("curation.execute_s", "s", "curation_release", "release_s"),
    ("curation.cpu_ms", "ms", "curation_release", "release_s"),
    ("curation.tasks", "count", "curation_release", "release_s"),
    ("curation.shuffle_bytes", "B", "curation_release", "release_s"),
    ("packing.export_s", "s", "curation_release", "release_s"),
]
for _s in CURATION_STAGES:
    LAYERS += [
        (f"curation.{_s}.rows_in", "count", "curation_release", "release_s"),
        (f"curation.{_s}.rows_out", "count", "curation_release", "release_s"),
    ]

UNITS = {name: unit for name, unit, _w, _m in LAYERS}
