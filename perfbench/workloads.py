"""The benchmark's workloads: which operations one pass runs.

``operator_mix`` is a list of registry query names; ``shard_extract``
is the paper's own seed -> extract loop and is driven directly in
``run.py``. Each mix query is attributed to the layer
(module) that defines it, which is how per-layer metrics are named.
"""

from __future__ import annotations

SHARD_EXTRACT = "shard_extract"
OPERATOR_MIX = "operator_mix"
WORKLOADS = (SHARD_EXTRACT, OPERATOR_MIX)

# operator_mix runs both query lists in one pass, shuffled together. The
# curation half is the LLM-pipeline operators (heavy shuffles, eager
# checkpoint loops, micro-batches); the analytics half is the relational
# surface, short queries where per-query overhead dominates.
CURATION_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix",
    "dedup_cluster_cc",
    "similarity_ivf_topk",
    "text_pii_redact",
    "streaming_dedup_index_probe",
)
ANALYTICS_QUERIES = (
    "agg_pricing_summary",
    "sql_revenue_by_nation",
    "window_running_sum",
    "topk_orders_per_segment",
    "sessionize_events",
    "asof_join_purchase_click",
    "timeseries_gapfill",
    "etl_merge_upsert",
)
# Every layer keeps at least one query; the rest of the curation and
# analytics lists (dedup_embedding_cosine, text_tfidf_top_terms,
# pipeline_corpus_curation, join_revenue_by_segment, join_star_schema,
# agg_cube, sql_market_share, sql_custdist) do not fit the run-time
# budget: the benchmark may take 4 + 22 x 2 runs in 3420 s.
MIX_QUERIES = CURATION_QUERIES + ANALYTICS_QUERIES

# Rows per Derby shard in shard_extract. Both shards get the same count,
# as the reference seeds each database alike. A seeded split was tried
# and dropped: with stride 10,000 the JDBC scan runs ceil(rows / 10,000)
# tasks per shard, one shard after the other, so an uneven split adds a
# task wave on 4 cores and moved pass_s by up to 30% with the seed alone.
SHARD_ROWS = 70_000


def layer_of(module: str) -> str:
    """The layer a query belongs to, named after its defining module:
    ``golang_etl_spark.operators.dedup`` -> ``dedup``,
    ``golang_etl_spark.streaming.jobs`` -> ``streaming``."""
    parts = module.split(".")[1:]
    return parts[1] if parts[0] in ("operators", "sources") else parts[0]


# ---------------------------------------------------------------------------
# Metric names (BENCHMARK.json lists the same; perfbench/tests/test_spec.py
# keeps the two in step)
# ---------------------------------------------------------------------------
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_s_geomean": "s",
}

CURATION_LAYERS = ("dedup", "clustering", "similarity", "text", "streaming")
ANALYTICS_LAYERS = (
    "relational", "sql_api", "windows", "topk", "sessionize", "asof", "timeseries", "etl",
)
# Metrics every query layer reports, and the extra that only moves on
# one mix: persisted RDDs on curation.
QUERY_LAYER_METRICS = (
    "build_s", "plan_s", "exec_s", "driver_gap_s", "tasks", "executor_cpu_s",
    "shuffle_bytes", "spill_bytes",
)
CURATION_EXTRA = ("persisted_rdds_after",)
ANALYTICS_EXTRA = ()
FIXED_LAYER_METRICS = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sinks.seed_shard_s": "s",
    "sinks.seed_shard.tasks": "count",
    "sinks.parquet_files": "count",
    "sinks.parquet_bytes_per_row": "B",
    "etl.read_shard_table_s": "s",
    "etl.scan_partitions": "count",
    "etl.partition_rows_max_over_mean": "ratio",
    "etl.extract_table_s": "s",
    "etl.scheduler_delay_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.state_rows": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "trace.query_self_s": "s",
}
_UNITS = {"_s": "s", "_bytes": "B"}


def _unit(metric: str) -> str:
    for suffix, unit in _UNITS.items():
        if metric.endswith(suffix):
            return unit
    return "count"


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name -> unit, in a fixed order."""
    out = dict(FIXED_LAYER_METRICS)
    for layers, extra in ((CURATION_LAYERS, CURATION_EXTRA), (ANALYTICS_LAYERS, ANALYTICS_EXTRA)):
        for layer in layers:
            for m in QUERY_LAYER_METRICS + extra:
                out[f"{layer}.{m}"] = _unit(m)
    return out
