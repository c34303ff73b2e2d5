"""streaming_dedup_stream: cross-micro-batch exact dedup with carried
state keyed by content hash (applyInPandasWithState), on the default
and the RocksDB state-store providers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def ddirs(tmp_path):
    return {
        "landing": str(tmp_path / "docs"),
        "table": str(tmp_path / "kept"),
        "ckpt": str(tmp_path / "dckpt"),
    }


DOC_SCHEMA = "doc_id long, text string"


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run_dedup(spark, dirs):
    from gnocchi_spark.operators.dedup import normalize_text
    from gnocchi_spark.streaming.stateful import streaming_dedup_stream

    stream = (
        spark.readStream.schema(DOC_SCHEMA).parquet(dirs["landing"])
        .withColumn("text_hash", F.md5(normalize_text(F.col("text"))))
        .select("doc_id", "text_hash")
    )
    kept = streaming_dedup_stream(stream)
    q = (
        kept.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dirs["table"])
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {r["doc_id"]: r["text_hash"] for r in spark.read.parquet(dirs["table"]).collect()}


def test_streaming_dedup_within_and_across_batches(spark, ddirs):
    _write_docs(
        spark,
        ddirs["landing"],
        [(1, "hello world"), (2, "other text"), (5, "Hello   WORLD")],
    )
    kept = _run_dedup(spark, ddirs)
    # doc 5 normalizes to doc 1's content -> within-batch dup dropped,
    # lowest doc_id kept
    assert set(kept) == {1, 2}

    # second micro-batch: a cross-batch dup (doc 7) and a new doc (8)
    _write_docs(spark, ddirs["landing"], [(7, "hello world"), (8, "fresh")])
    kept2 = _run_dedup(spark, ddirs)
    assert set(kept2) == {1, 2, 8}


def test_dedup_stream_under_rocksdb_provider(spark, ddirs):
    """enable_rocksdb_state (r09, VERDICT r08 next #5): the production
    state-backend configuration actually drives the stateful operators
    on this build — the dedup stream runs under the RocksDB provider
    when the class is on the classpath (the pyspark distribution
    bundles rocksdbjni) and produces the same results as the default
    provider."""
    from gnocchi_spark.session import ROCKSDB_STATE_PROVIDER, enable_rocksdb_state

    saved = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        if not enable_rocksdb_state(spark):
            pytest.skip("RocksDB state store provider not on classpath")
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_STATE_PROVIDER
        )
        # r10: the helper also turns on changelog checkpointing (commit
        # cost O(changed keys) per batch, not O(live keys))
        assert (
            spark.conf.get(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            )
            == "true"
        )
        _write_docs(
            spark,
            ddirs["landing"],
            [(1, "hello world"), (2, "other text"), (5, "Hello   WORLD")],
        )
        assert set(_run_dedup(spark, ddirs)) == {1, 2}
        # cross-micro-batch state carried by the RocksDB store
        _write_docs(spark, ddirs["landing"], [(7, "hello world"), (8, "fresh")])
        assert set(_run_dedup(spark, ddirs)) == {1, 2, 8}
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", saved
            )
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        )
