"""stateful_rate_stream: per-metric carried state across micro-batches
(applyInPandasWithState), in-order contract, stale-point accounting."""

from __future__ import annotations

import datetime
import math
import time

import pytest
from pyspark.sql import functions as F

from gnocchi_spark.streaming import ingest as si
from gnocchi_spark.streaming.stateful import stateful_rate_stream


def _t(minute, second=0):
    return datetime.datetime(2026, 3, 6, 14, minute, second)


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, schema=si.MEASURES_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    return {
        "landing": str(tmp_path / "landing"),
        "table": str(tmp_path / "rates"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(q, timeout=120.0):
    """Wait until ``q`` has committed every landed file, then stop it.

    The rate operator's processing-time idle timeout makes every trigger
    ask for one more no-data batch, so an availableNow query over it never
    terminates on its own (and ``processAllAvailable`` never returns).
    Every run lands rows first, so the input is committed once a batch
    that read rows is followed by one whose source offsets did not move.
    (A restart may first redo the stopped run's uncommitted no-data
    batch, which is why the order matters.)"""
    deadline = time.monotonic() + timeout
    try:
        while True:
            if q.exception() is not None:
                raise q.exception()
            read_rows = False
            for p in q.recentProgress:
                if p["numInputRows"] > 0:
                    read_rows = True
                elif read_rows and all(
                    s["startOffset"] == s["endOffset"] for s in p["sources"]
                ):
                    return
            assert q.isActive, "query stopped before a no-data batch"
            assert time.monotonic() < deadline, "input not drained in time"
            time.sleep(0.2)
    finally:
        q.stop()


def _run(spark, dirs):
    stream = si.read_measures_stream(spark, dirs["landing"])
    rates = stateful_rate_stream(stream)
    q = (
        rates.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dirs["table"])
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return spark.read.parquet(dirs["table"]).collect()


def test_state_carries_across_micro_batches(spark, dirs):
    _write_batch(
        spark,
        dirs["landing"],
        [
            ("m1", _t(0, 0), 1.0, 1),
            ("m1", _t(0, 30), 4.0, 2),
            ("m2", _t(0, 0), 10.0, 3),
        ],
    )
    rows = _run(spark, dirs)
    got = {
        (r["metric_id"], r["ts"].replace(tzinfo=None)): r["rate"]
        for r in rows
        if r["ts"] is not None
    }
    # first point per metric emits nothing (no predecessor)
    assert got == {("m1", _t(0, 30)): 3.0}

    # batch 2: m1's diff must use the STATE (last=4.0 @ 14:00:30), and
    # m2 gets its first diff from state too
    _write_batch(
        spark,
        dirs["landing"],
        [("m1", _t(1, 0), 6.0, 4), ("m2", _t(1, 0), 13.0, 5)],
    )
    rows = _run(spark, dirs)
    got = {
        (r["metric_id"], r["ts"].replace(tzinfo=None)): r["rate"]
        for r in rows
        if r["ts"] is not None
    }
    assert got == {
        ("m1", _t(0, 30)): 3.0,
        ("m1", _t(1, 0)): 2.0,
        ("m2", _t(1, 0)): 3.0,
    }


def test_stale_points_dropped_and_counted(spark, dirs):
    _write_batch(
        spark,
        dirs["landing"],
        [("m1", _t(1, 0), 5.0, 1), ("m1", _t(2, 0), 8.0, 2)],
    )
    _run(spark, dirs)
    # an out-of-order point at/before the carried last_ts is dropped
    _write_batch(spark, dirs["landing"], [("m1", _t(1, 30), 99.0, 3)])
    rows = _run(spark, dirs)
    rates = [r["rate"] for r in rows if r["ts"] is not None]
    assert rates == [3.0]  # only the original diff; 99.0 never entered
    stale = [r for r in rows if r["ts"] is None]
    assert len(stale) == 1 and stale[0]["n_stale"] == 1
    # the carrier row's rate is empty (NaN maps to null through Arrow)
    r = stale[0]["rate"]
    assert r is None or math.isnan(r)


def test_rate_buckets_match_batch_rate_rollup(spark, dirs):
    """The stateful stream's bucketed means equal the batch rate:mean
    rollup on the same in-order data."""
    from gnocchi_spark.operators.rollup import rollup

    rows = [
        ("m1", _t(0, 0), 1.0, 1),
        ("m1", _t(0, 20), 3.0, 2),
        ("m1", _t(0, 40), 4.0, 3),
        ("m1", _t(1, 10), 10.0, 4),
        ("m1", _t(1, 50), 12.0, 5),
    ]
    _write_batch(spark, dirs["landing"], rows[:3])
    _run(spark, dirs)
    _write_batch(spark, dirs["landing"], rows[3:])
    _run(spark, dirs)
    streamed = (
        spark.read.parquet(dirs["table"])
        .where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "60 seconds").getField("start").alias("b"))
        .agg(F.avg("rate").alias("v"))
    )
    got = {r["b"].replace(tzinfo=None): r["v"] for r in streamed.collect()}
    batch = rollup(
        spark.createDataFrame(rows, schema=si.MEASURES_SCHEMA),
        ["rate:mean"],
        60.0,
    )
    want = {
        r["bucket_ts"].replace(tzinfo=None): r["value"]
        for r in batch.collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# streaming_dedup_stream


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


def test_stateful_rate_under_rocksdb_provider(spark, dirs):
    """enable_rocksdb_state (r09, VERDICT r08 next #5): the production
    state-backend configuration actually drives the stateful operators
    on this build — the rate stream runs under the RocksDB provider
    when the class is on the classpath (the pyspark distribution
    bundles rocksdbjni) and produces the same results as the default
    provider."""
    import pytest as _pytest

    from gnocchi_spark.session import ROCKSDB_STATE_PROVIDER, enable_rocksdb_state

    saved = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        if not enable_rocksdb_state(spark):
            _pytest.skip("RocksDB state store provider not on classpath")
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
        _write_batch(
            spark,
            dirs["landing"],
            [
                ("m1", _t(0, 0), 1.0, 1),
                ("m1", _t(0, 30), 4.0, 2),
                ("m2", _t(0, 0), 10.0, 3),
            ],
        )
        rows = _run(spark, dirs)
        got = {
            (r["metric_id"], r["ts"].replace(tzinfo=None)): r["rate"]
            for r in rows
            if r["ts"] is not None
        }
        assert got == {("m1", _t(0, 30)): 3.0}
        # cross-micro-batch state carried by the RocksDB store
        _write_batch(
            spark,
            dirs["landing"],
            [("m1", _t(1, 0), 6.0, 4), ("m2", _t(1, 0), 13.0, 5)],
        )
        rows = _run(spark, dirs)
        got = {
            (r["metric_id"], r["ts"].replace(tzinfo=None)): r["rate"]
            for r in rows
            if r["ts"] is not None
        }
        assert got == {
            ("m1", _t(0, 30)): 3.0,
            ("m1", _t(1, 0)): 2.0,
            ("m2", _t(1, 0)): 3.0,
        }
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
