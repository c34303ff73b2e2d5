"""gnocchi_spark — a PySpark-native time-series analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
gnocchixyz/gnocchi (reference: /root/reference), designed Spark-first:

- measures are an append-only fact table / stream,
- archive policies drive multi-granularity ``groupBy(metric, window)``
  materializations (reference: gnocchi/storage/__init__.py:583-692),
- the query side is plain DataFrame/SQL over rollup tables, with small
  AST->Column compilers for gnocchi's operations DSL
  (gnocchi/rest/aggregates/operations.py) and resource filter DSL
  (gnocchi/indexer/sqlalchemy.py:1469-1618),
- plus large-scale training-data pipeline operators (dedup, similarity
  search, text analysis, multimodal plumbing) that the reference lacks.

Everything in the hot path is built-in Column expressions (JVM-side,
whole-stage codegen); no row-at-a-time Python UDFs.

Public API
----------

The names in ``__all__`` below are the supported user-facing surface,
re-exported lazily (PEP 562) so ``import gnocchi_spark`` stays cheap and
circular-import-proof.  Quickstart::

    import gnocchi_spark as gs

    spark = gs.get_spark()
    measures = gs.events_as_measures(spark, "/root/testdata/sf0.001")
    policy = gs.ArchivePolicy(
        "medium", 0,
        (gs.ArchivePolicyItem(300.0, points=10000),
         gs.ArchivePolicyItem(3600.0, points=10000)),
        frozenset(["mean", "min", "max", "count"]),
    )
    gs.rollup_policy(measures, policy, seq_col="seq").show()

Anything not exported here (module-private helpers, the ``queries``
gate registry, memo internals) may change without notice.
"""

from __future__ import annotations

__version__ = "0.1.0"

# export name -> (module, attribute). Lazy: resolved on first access.
_EXPORTS: dict[str, tuple[str, str]] = {
    # session / config
    "get_spark": ("gnocchi_spark.session", "get_spark"),
    "enable_rocksdb_state": ("gnocchi_spark.session", "enable_rocksdb_state"),
    # archive policies
    "ArchivePolicy": ("gnocchi_spark.policy", "ArchivePolicy"),
    "ArchivePolicyItem": ("gnocchi_spark.policy", "ArchivePolicyItem"),
    "ArchivePolicyRule": ("gnocchi_spark.policy", "ArchivePolicyRule"),
    "default_policies": ("gnocchi_spark.policy", "default_policies"),
    "expand_aggregation_methods": (
        "gnocchi_spark.policy",
        "expand_aggregation_methods",
    ),
    "assign_policy": ("gnocchi_spark.policy", "assign_policy"),
    "capabilities": ("gnocchi_spark.policy", "capabilities"),
    # testdata / IO helpers
    "load_table": ("gnocchi_spark.tables", "load"),
    "load_all": ("gnocchi_spark.tables", "load_all"),
    "events_as_measures": ("gnocchi_spark.tables", "events_as_measures"),
    "normalize_timestamps": ("gnocchi_spark.tables", "normalize_timestamps"),
    # ingest-time rollup
    "rollup_policy": ("gnocchi_spark.operators.rollup", "rollup_policy"),
    "rollup": ("gnocchi_spark.operators.rollup", "rollup"),
    "rollup_wide": ("gnocchi_spark.operators.rollup", "rollup_wide"),
    "melt_rollup": ("gnocchi_spark.operators.rollup", "melt_rollup"),
    "dedup_last_write_wins": (
        "gnocchi_spark.operators.rollup",
        "dedup_last_write_wins",
    ),
    # reads
    "get_measures": ("gnocchi_spark.operators.read", "get_measures"),
    "resample_rollup": ("gnocchi_spark.operators.read", "resample_rollup"),
    "granularity_intersection": (
        "gnocchi_spark.operators.read",
        "granularity_intersection",
    ),
    # cross-series alignment / fill
    "align_series": ("gnocchi_spark.operators.align", "align_series"),
    "stack_series": ("gnocchi_spark.operators.align", "stack_series"),
    "UnAggregableTimeseries": (
        "gnocchi_spark.operators.align",
        "UnAggregableTimeseries",
    ),
    # history-aware group-by
    "history_grouped_aggregate": (
        "gnocchi_spark.operators.grouper",
        "history_grouped_aggregate",
    ),
    "prepare_revisions": ("gnocchi_spark.operators.grouper", "prepare_revisions"),
    # filter DSL compilers
    "compile_filter": ("gnocchi_spark.plans.filters", "compile_filter"),
    "compile_query_string": (
        "gnocchi_spark.plans.filters",
        "compile_query_string",
    ),
    "parse_query_string": ("gnocchi_spark.plans.filters", "parse_query_string"),
    "compile_measure_query": (
        "gnocchi_spark.plans.filters",
        "compile_measure_query",
    ),
    "compose_search_filter": (
        "gnocchi_spark.plans.filters",
        "compose_search_filter",
    ),
    # operations DSL
    "SeriesFrame": ("gnocchi_spark.plans.operations", "SeriesFrame"),
    "evaluate_operations": ("gnocchi_spark.plans.operations", "evaluate"),
    # maintenance / lifecycle
    "retention_filter": (
        "gnocchi_spark.operators.maintenance",
        "retention_filter",
    ),
    "backlog_report": ("gnocchi_spark.operators.maintenance", "backlog_report"),
    "lateness_profile": (
        "gnocchi_spark.operators.maintenance",
        "lateness_profile",
    ),
    "expunge_deleted_metrics": (
        "gnocchi_spark.operators.maintenance",
        "expunge_deleted_metrics",
    ),
    # temporal joins
    "asof_join": ("gnocchi_spark.operators.asof", "asof_join"),
    "sessionize": ("gnocchi_spark.operators.asof", "sessionize"),
    # snapshot store
    "SnapshotStore": ("gnocchi_spark.operators.store", "SnapshotStore"),
    # structured streaming ingest
    "read_measures_stream": (
        "gnocchi_spark.streaming.ingest",
        "read_measures_stream",
    ),
    "streaming_rollup": ("gnocchi_spark.streaming.ingest", "streaming_rollup"),
    "streaming_nb_counts": (
        "gnocchi_spark.streaming.ingest",
        "streaming_nb_counts",
    ),
    # dedup family
    "exact_dedup": ("gnocchi_spark.operators.dedup", "exact_dedup"),
    "minhash_near_duplicates": (
        "gnocchi_spark.operators.dedup",
        "minhash_near_duplicates",
    ),
    "cluster_assignments": (
        "gnocchi_spark.operators.dedup",
        "cluster_assignments",
    ),
    "near_dup_clusters": ("gnocchi_spark.operators.dedup", "near_dup_clusters"),
    "clear_assignment_cache": (
        "gnocchi_spark.operators.dedup",
        "clear_assignment_cache",
    ),
    # similarity / ANN
    "cosine_topk": ("gnocchi_spark.operators.similarity", "cosine_topk"),
    "lsh_cosine_topk": ("gnocchi_spark.operators.similarity", "lsh_cosine_topk"),
    "ivf_cosine_topk": ("gnocchi_spark.operators.similarity", "ivf_cosine_topk"),
    "ivf_train_kmeans": (
        "gnocchi_spark.operators.similarity",
        "ivf_train_kmeans",
    ),
    "ivf_probe_curve": ("gnocchi_spark.operators.similarity", "ivf_probe_curve"),
    "autotune_ivf_probe": (
        "gnocchi_spark.operators.similarity",
        "autotune_ivf_probe",
    ),
    "pq_adc_topk": ("gnocchi_spark.operators.similarity", "pq_adc_topk"),
    "semantic_dedup": ("gnocchi_spark.operators.similarity", "semantic_dedup"),
    "IvfIndex": ("gnocchi_spark.operators.ann_index", "IvfIndex"),
    # LLM-data pipeline
    "ngram_decontaminate": (
        "gnocchi_spark.operators.pipeline",
        "ngram_decontaminate",
    ),
    "pack_sequences": ("gnocchi_spark.operators.pipeline", "pack_sequences"),
    "gopher_quality_filter": (
        "gnocchi_spark.operators.pipeline",
        "gopher_quality_filter",
    ),
    "duplicated_ngram_coverage": (
        "gnocchi_spark.operators.pipeline",
        "duplicated_ngram_coverage",
    ),
    "repeated_span_report": (
        "gnocchi_spark.operators.pipeline",
        "repeated_span_report",
    ),
    "repeated_span_apply": (
        "gnocchi_spark.operators.pipeline",
        "repeated_span_apply",
    ),
    "nb_domain_classifier": (
        "gnocchi_spark.operators.pipeline",
        "nb_domain_classifier",
    ),
    "nb_threshold_curve": (
        "gnocchi_spark.operators.pipeline",
        "nb_threshold_curve",
    ),
    "domain_mixture_sample": (
        "gnocchi_spark.operators.pipeline",
        "domain_mixture_sample",
    ),
    # retrieval
    "bm25_topk": ("gnocchi_spark.operators.retrieval", "bm25_topk"),
    "chunk_documents": ("gnocchi_spark.operators.retrieval", "chunk_documents"),
    "rrf_hybrid_topk": ("gnocchi_spark.operators.retrieval", "rrf_hybrid_topk"),
    "mmr_rerank": ("gnocchi_spark.operators.retrieval", "mmr_rerank"),
    "tfidf_cosine_topk": (
        "gnocchi_spark.operators.retrieval",
        "tfidf_cosine_topk",
    ),
    # text analysis
    "document_stats": ("gnocchi_spark.operators.textstats", "document_stats"),
    "detect_language": ("gnocchi_spark.operators.textstats", "detect_language"),
    "quality_score": ("gnocchi_spark.operators.textstats", "quality_score"),
    # graph
    "cooccurrence_edges": (
        "gnocchi_spark.operators.graph",
        "cooccurrence_edges",
    ),
    "pagerank": ("gnocchi_spark.operators.graph", "pagerank"),
    "triangle_count": ("gnocchi_spark.operators.graph", "triangle_count"),
    "kcore_peel": ("gnocchi_spark.operators.graph", "kcore_peel"),
    "label_propagation": ("gnocchi_spark.operators.graph", "label_propagation"),
    # drift
    "psi_report": ("gnocchi_spark.operators.drift", "psi_report"),
    "ks_two_sample": ("gnocchi_spark.operators.drift", "ks_two_sample"),
    # sketches
    "hll_distinct": ("gnocchi_spark.functions.sketches", "hll_distinct"),
    "binned_quantile": ("gnocchi_spark.functions.sketches", "binned_quantile"),
    # sampling / membership
    "stratified_sample": (
        "gnocchi_spark.operators.sampling",
        "stratified_sample",
    ),
    "bloom_build": ("gnocchi_spark.operators.bloom", "bloom_build"),
    "bloom_membership": ("gnocchi_spark.operators.bloom", "bloom_membership"),
    # multimodal plumbing
    "decode_image_features": (
        "gnocchi_spark.operators.multimodal",
        "decode_image_features",
    ),
    "resize_images": ("gnocchi_spark.operators.multimodal", "resize_images"),
    "sample_frames": ("gnocchi_spark.operators.multimodal", "sample_frames"),
}

__all__ = sorted(_EXPORTS) + ["__version__"]


def __getattr__(name: str):
    """PEP 562 lazy re-export: resolve a curated public name on first
    access and cache it on the package module."""
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        ) from None
    import importlib

    value = getattr(importlib.import_module(mod_name), attr)
    globals()[name] = value
    return value


def __dir__() -> list[str]:
    return sorted(set(globals()) | set(__all__))
