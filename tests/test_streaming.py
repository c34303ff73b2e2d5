"""Streaming ingest tests: watermark finalization (frozen splits),
late-data drop (back-window), the store sink in update mode (mutable
tail), the rate:* re-read sink, and refresh-on-read — semantics per
SURVEY.md §2.10.  Every rollup lands in a SnapshotStore."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from gnocchi_spark.operators.read import get_measures
from gnocchi_spark.operators.rollup import melt_rollup, rollup, rollup_wide
from gnocchi_spark.operators.store import SnapshotStore
from gnocchi_spark.streaming import ingest as si

UTC = datetime.timezone.utc


def _t(minute, second=0):
    return datetime.datetime(2026, 3, 6, 14, minute, second)


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, schema=si.MEASURES_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    return {
        "landing": str(tmp_path / "landing"),
        "table": str(tmp_path / "rollups"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _store(dirs):
    return SnapshotStore(dirs["table"], num_sacks=4)


def _run_store_sink(rolled, dirs, mode, methods, g, timeout=120):
    """The store sink: foreachBatch merging melt_rollup(df, methods, g),
    the long layout get_measures serves, in append or update mode,
    drained with availableNow; returns the store's pinned frame."""
    store = _store(dirs)
    q = (
        rolled.writeStream.outputMode(mode)
        .foreachBatch(lambda df, _epoch: store.merge(melt_rollup(df, methods, g)))
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return store.read(rolled.sparkSession)


def _values(frame):
    """(metric_id, method, bucket minute) -> value of a long-layout frame."""
    return {
        (r["metric_id"], r["method"], r["bucket_ts"].minute): r["value"]
        for r in frame.collect()
    }


def _run_append(spark, dirs, methods=("mean", "count", "std"), gran=300.0, bw=600):
    stream = si.read_measures_stream(spark, dirs["landing"])
    agg = si.streaming_rollup(stream, list(methods), gran, bw)
    return _run_store_sink(agg, dirs, "append", list(methods), gran)


def test_append_sink_finalizes_watermarked_windows(spark, dirs):
    # batch 1: two 5-min buckets + a point far ahead that advances the
    # watermark past both
    rows = [
        ("m1", _t(0, 10), 1.0, 1),
        ("m1", _t(0, 50), 3.0, 2),
        ("m1", _t(6, 0), 10.0, 3),
        ("m2", _t(1, 0), 7.0, 4),
        ("m1", _t(40, 0), 99.0, 5),  # watermark mover
    ]
    _write_batch(spark, dirs["landing"], rows)
    done = _values(_run_append(spark, dirs))
    # finalized buckets (watermark = 14:40 - 10 min = 14:30 > bucket ends)
    assert done[("m1", "mean", 0)] == 2.0 and done[("m1", "count", 0)] == 2
    # std suppressed at count=1: the bucket has no std row
    assert (done[("m1", "mean", 5)], done[("m1", "count", 5)]) == (10.0, 1)
    assert ("m1", "std", 5) not in done
    assert (done[("m2", "mean", 0)], done[("m2", "count", 0)]) == (7.0, 1)
    assert ("m2", "std", 0) not in done
    # the watermark-moving bucket itself (14:40) is still open: not emitted
    assert not [k for k in done if k[0] == "m1" and k[2] == 40]
    # std of the 2-point bucket is the sample std
    assert done[("m1", "std", 0)] == pytest.approx(1.4142135623730951)


def test_append_sink_drops_late_beyond_back_window(spark, dirs):
    _write_batch(
        spark,
        dirs["landing"],
        [("m1", _t(0, 10), 1.0, 1), ("m1", _t(40), 99.0, 2)],
    )
    got1 = _run_append(spark, dirs)
    assert {r["bucket_ts"].minute for r in got1.collect()} == {0}
    # batch 2: a late point for the already-finalized 14:00 bucket
    # (older than watermark 14:30) -> silently dropped, bucket unchanged
    _write_batch(spark, dirs["landing"], [("m1", _t(0, 20), 100.0, 3)])
    got2 = _run_append(spark, dirs)
    rows = [
        r
        for r in got2.collect()
        if r["bucket_ts"].minute == 0 and r["method"] == "mean"
    ]
    assert len(rows) == 1 and rows[0]["value"] == 1.0


def test_merge_sink_updates_mutable_tail(spark, dirs):
    # update mode: buckets inside the back-window are re-emitted and
    # merged when late data arrives
    _write_batch(
        spark,
        dirs["landing"],
        [("m1", _t(0, 10), 1.0, 1), ("m1", _t(5, 0), 5.0, 2)],
    )
    stream = si.read_measures_stream(spark, dirs["landing"])
    methods = ["mean", "count"]
    agg = si.streaming_rollup(stream, methods, 300.0, 600)
    _run_store_sink(agg, dirs, "update", methods, 300.0)
    # late-but-within-window point updates the 14:00 bucket
    _write_batch(spark, dirs["landing"], [("m1", _t(0, 40), 3.0, 3)])
    got = _values(_run_store_sink(agg, dirs, "update", methods, 300.0))
    assert got == {
        ("m1", "mean", 0): 2.0,
        ("m1", "count", 0): 2,
        ("m1", "mean", 5): 5.0,
        ("m1", "count", 5): 1,
    }


def test_streaming_matches_batch_rollup(spark, dirs):
    # equivalence: store-sink result == batch rollup over the same
    # measures (the correctness contract of the whole streaming path),
    # and the streamed store serves get_measures like the batch frame
    rows = [
        ("m%d" % (i % 3), _t(i % 25, (i * 7) % 60), float(i), i) for i in range(200)
    ]
    methods = ["mean", "count", "std"]
    _write_batch(spark, dirs["landing"], rows)
    stream = si.read_measures_stream(spark, dirs["landing"])
    agg = si.streaming_rollup(stream, methods, 300.0, 600)
    stored = _run_store_sink(agg, dirs, "update", methods, 300.0, timeout=180)
    batch_df = spark.createDataFrame(rows, schema=si.MEASURES_SCHEMA)
    batch = rollup(batch_df, methods, 300.0)
    cols = ["metric_id", "method", "granularity", "bucket_ts", "value"]
    got = stored.select(*cols).orderBy(*cols[:4]).collect()
    exp = batch.select(*cols).orderBy(*cols[:4]).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]

    # served reads: the bare pinned frame takes the driver tier, a
    # transformed one the Spark plan; both equal the batch frame's read
    tiers = [(stored, True), (stored.select("*"), False)]
    for m in ("m0", "m1", "m2"):
        for method in methods:
            want = [tuple(r) for r in get_measures(batch, m, method, 300.0).collect()]
            assert want
            for frame, local in tiers:
                served = get_measures(frame, m, method, 300.0)
                plan = served._jdf.queryExecution().analyzed().toString()
                assert ("LocalRelation" in plan) == local
                assert [tuple(r) for r in served.collect()] == want


def test_read_with_tail_refresh_on_read(spark, dirs):
    processed = [("m1", _t(0, 10), 1.0, 1), ("m1", _t(0, 50), 3.0, 2)]
    unprocessed = [("m1", _t(0, 55), 5.0, 3), ("m1", _t(5, 0), 7.0, 4)]
    batch = spark.createDataFrame(processed, schema=si.MEASURES_SCHEMA)
    rolled = rollup_wide(batch, ["mean", "count"], 300.0).select(
        "metric_id", "bucket_ts", F.lit("300").alias("granularity"), "mean", "count"
    )
    # the tail recomputes its buckets from raw; overlapping bucket 14:00
    # must come from the recomputation including the processed points
    live = spark.createDataFrame(processed + unprocessed, schema=si.MEASURES_SCHEMA)
    out = si.read_with_tail(
        rolled, live.where(F.col("seq") >= 1), ["mean", "count"], 300.0
    )
    got = {r["bucket_ts"].minute: (r["mean"], r["count"]) for r in out.collect()}
    assert got[0] == (3.0, 3)  # (1+3+5)/3 — recomputed, replaces rollup row
    assert got[5] == (7.0, 1)


_RATE_POINTS = [
    ("m1", _t(0, 0), 1.0, 1),
    ("m1", _t(0, 30), 3.0, 2),
    ("m1", _t(1, 10), 6.0, 3),
]


def _rate_values(spark, rollups):
    return {
        r["bucket_ts"].replace(tzinfo=None): r["value"]
        for r in rollups.read(spark).collect()
    }


def test_streaming_rate_late_point_updates_buckets(spark, dirs, tmp_path):
    """Streaming rate:* via micro-batch re-read (storage/__init__.py:
    618-622): a late point inside the back window must update BOTH its
    own bucket's rate and the next bucket's first diff (the predecessor
    changed); a point older than the back window is dropped."""
    raw_store = SnapshotStore(str(tmp_path / "raw_store"), num_sacks=4)
    rollups = _store(dirs)

    def _run():
        stream = si.read_measures_stream(spark, dirs["landing"])
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, _epoch: si.rate_rollup_batch(
                    df, raw_store, rollups, ["rate:mean"], 60.0, 600
                )
            )
            .option("checkpointLocation", dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return _rate_values(spark, rollups)

    _write_batch(spark, dirs["landing"], _RATE_POINTS)
    got = _run()
    # bucket 14:00: diffs [3-1]=2 -> mean 2; bucket 14:01: [6-3]=3
    assert got == {_t(0): 2.0, _t(1): 3.0}

    # late point 14:00:45 v=4 (within back_window=600s of newest 14:01:10)
    _write_batch(spark, dirs["landing"], [("m1", _t(0, 45), 4.0, 4)])
    got = _run()
    # 14:00 diffs: [3-1, 4-3] -> 1.5; 14:01 first diff changes: 6-4=2
    assert got == {_t(0): 1.5, _t(1): 2.0}

    # a point beyond the back window (14:01:10 - 600s = 13:51:10) drops
    _write_batch(spark, dirs["landing"], [("m1", _t(1, 10) - datetime.timedelta(minutes=20), 50.0, 5)])
    got = _run()
    assert got == {_t(0): 1.5, _t(1): 2.0}


def test_rate_batch_replayed_epoch_is_idempotent(spark, tmp_path):
    """A checkpoint replay after a crash applies the same epoch twice.
    The raw points merge by (metric_id, ts), so the second application
    replaces them instead of adding duplicates, and the served rates
    stay those of one application (duplicated points would read 0.667 /
    1.5: each copy adds a zero diff)."""
    raw_store = SnapshotStore(str(tmp_path / "raw_store"), num_sacks=4)
    rollups = SnapshotStore(str(tmp_path / "rollups"), num_sacks=4)
    epoch = spark.createDataFrame(_RATE_POINTS, schema=si.MEASURES_SCHEMA)
    for _ in range(2):
        si.rate_rollup_batch(epoch, raw_store, rollups, ["rate:mean"], 60.0, 600)
    assert _rate_values(spark, rollups) == {_t(0): 2.0, _t(1): 3.0}
    assert raw_store.read(spark).count() == len(_RATE_POINTS)


def test_influx_lines_stream_to_rollup(spark, dirs):
    # integration: protocol normalizer composing with the streaming
    # rollup — the parser is a pure DataFrame transform, so the same
    # code runs under readStream unchanged
    from gnocchi_spark.sources import influxdb

    lines1 = [
        "cpu,host=h1 value=10 %d" % (1767225600 * 10**9),        # 2026-01-01 00:00:00
        "cpu,host=h1 value=20 %d" % (1767225960 * 10**9),        # 00:06:00
        "cpu,host=h2 value=5 %d" % (1767225600 * 10**9),
        "cpu,host=h1 value=99 %d" % (1767229200 * 10**9),        # 01:00 watermark mover
    ]
    ldir = dirs["landing"]
    import os

    os.makedirs(ldir, exist_ok=True)
    with open(f"{ldir}/batch1.txt", "w") as f:
        f.write("\n".join(lines1))

    raw = spark.readStream.format("text").load(ldir)
    measures = influxdb.parse_lines(raw.withColumnRenamed("value", "line")).select(
        F.concat_ws("/", "resource_id", "metric_name").alias("metric_id"),
        "ts",
        "value",
        F.lit(None).cast("long").alias("seq"),
    )
    methods = ["mean", "count"]
    agg = si.streaming_rollup(measures, methods, 300.0, 600)
    got = _values(_run_store_sink(agg, dirs, "append", methods, 300.0))
    for m, minute, mean in (("h1", 0, 10.0), ("h1", 5, 20.0), ("h2", 0, 5.0)):
        key = f"{m}/cpu.value"
        assert (got[(key, "mean", minute)], got[(key, "count", minute)]) == (mean, 1)


def test_streaming_session_window(spark, dirs, tmp_path):
    # sessions per metric with a 60 s gap: m1 has two sessions (break
    # at 14:10), m2 one; the closing point at 14:20 advances the
    # watermark past every session end + gap so append mode emits all
    rows = [
        ("m1", _t(0, 0), 1.0, 1),
        ("m1", _t(0, 30), 2.0, 2),
        ("m1", _t(1, 20), 3.0, 3),   # 50 s gap: same session
        ("m1", _t(10, 0), 4.0, 4),   # new session
        ("m2", _t(0, 0), 5.0, 5),
        ("m9", _t(20, 0), 0.0, 6),   # watermark pusher
    ]
    _write_batch(spark, dirs["landing"], rows)
    stream = si.read_measures_stream(spark, dirs["landing"])
    agg = si.streaming_session_stats(
        stream, ["metric_id"], gap_seconds=60.0, watermark="0 seconds",
        value_col="value",
    )
    out_dir = str(tmp_path / "sessions")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["metric_id"], r["session_start"]): r
        for r in spark.read.parquet(out_dir).collect()
    }
    s1 = got[("m1", _t(0, 0))]
    assert s1["n_events"] == 3 and s1["value_sum"] == 6.0
    assert s1["session_end"] == _t(1, 20)
    s2 = got[("m1", _t(10, 0))]
    assert s2["n_events"] == 1 and s2["value_sum"] == 4.0
    assert ("m2", _t(0, 0)) in got


def test_streaming_hll_registers_match_batch_sketch(spark, tmp_path):
    """The streaming register table, estimated at read time, must equal
    the batch HLL over the same finalized window exactly (registers are
    deterministic, merge is max)."""
    import datetime

    from gnocchi_spark.functions.sketches import (
        hll_distinct,
        hll_estimate_from_registers,
    )
    from gnocchi_spark.streaming.ingest import streaming_hll_registers
    from gnocchi_spark.streaming import ingest as si

    landing = str(tmp_path / "hll_landing")
    table = str(tmp_path / "hll_regs")
    ckpt = str(tmp_path / "hll_ckpt")
    t0 = datetime.datetime(2026, 3, 6, 14, 0, 0)

    def t(minute):
        return t0 + datetime.timedelta(minutes=minute)

    # window 14:00-15:00 gets users 1..40 (some repeated) across two
    # batches; a far-future point moves the watermark past the window
    rows1 = [("m1", t(i % 50), float(i % 40), i) for i in range(200)]
    rows2 = [("m1", t(50 + (i % 9)), float(i % 25), 1000 + i) for i in range(100)]
    mover = [("m1", t(300), 0.0, 9999)]
    for batch in (rows1, rows2 + mover):
        df = spark.createDataFrame(batch, schema=si.MEASURES_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(landing)

    stream = si.read_measures_stream(spark, landing)
    regs = streaming_hll_registers(
        stream, F.col("value").cast("string"), ["metric_id"], window="1 hour",
        watermark="10 minutes",
    )
    q = (
        regs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    stored = spark.read.parquet(table)
    est = hll_estimate_from_registers(
        stored.withColumnRenamed("maxrank", "__maxrank"),
        ["metric_id", "bucket_ts"],
    ).collect()
    got = {
        (r["metric_id"], r["bucket_ts"]): r["approx_distinct"] for r in est
    }

    batch_rows = rows1 + rows2 + mover
    bdf = spark.createDataFrame(batch_rows, schema=si.MEASURES_SCHEMA)
    in_window = bdf.where(
        (F.col("ts") >= t(0)) & (F.col("ts") < t(60))
    )
    want = hll_distinct(
        in_window, F.col("value").cast("string"), ["metric_id"]
    ).collect()[0][
        "approx_distinct"
    ]
    assert got[("m1", t(0))] == want


def test_streaming_cms_counters_match_batch_sketch(spark, tmp_path):
    """Streamed per-window CMS counters must equal the batch sketch of
    the same finalized window (counters are deterministic, merge = sum),
    and estimates over them must never underestimate."""
    import datetime

    from gnocchi_spark.functions.sketches import cms_estimate, cms_tables
    from gnocchi_spark.streaming.ingest import streaming_cms_counters
    from gnocchi_spark.streaming import ingest as si

    landing = str(tmp_path / "cms_landing")
    table = str(tmp_path / "cms_counts")
    ckpt = str(tmp_path / "cms_ckpt")
    t0 = datetime.datetime(2026, 3, 6, 14, 0, 0)

    def t(minute):
        return t0 + datetime.timedelta(minutes=minute)

    rows1 = [("m1", t(i % 50), float(i % 7), i) for i in range(140)]
    rows2 = [("m1", t(i % 40), float(i % 11), 1000 + i) for i in range(110)]
    mover = [("m1", t(300), 0.0, 9999)]
    for batch in (rows1, rows2 + mover):
        df = spark.createDataFrame(batch, schema=si.MEASURES_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(landing)

    stream = si.read_measures_stream(spark, landing)
    counters = streaming_cms_counters(
        stream, F.col("value").cast("string"), window="1 hour",
        watermark="10 minutes", d=4, w=64,
    )
    q = (
        counters.writeStream.outputMode("append")
        .format("parquet")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    stored = spark.read.parquet(table).where(F.col("bucket_ts") == t(0))
    batch_rows = rows1 + rows2
    bdf = spark.createDataFrame(batch_rows, schema=si.MEASURES_SCHEMA).where(
        (F.col("ts") >= t(0)) & (F.col("ts") < t(60))
    )
    want = cms_tables(bdf, F.col("value").cast("string"), d=4, w=64)
    got = stored.select("row", "idx", "cnt")
    # exact counter-table equality both directions
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # probing the streamed sketch never underestimates true counts
    truth = bdf.groupBy(F.col("value").cast("string").alias("k")).agg(
        F.count("*").cast("long").alias("exact_count")
    )
    est = cms_estimate(truth, got, F.col("k"), d=4, w=64)
    bad = est.where(F.col("cms_count") < F.col("exact_count")).count()
    assert bad == 0


def test_streaming_histogram_counts_match_batch_and_serve_quantile(spark, tmp_path):
    """Streamed fixed-grid histogram counters must equal the batch
    histogram of the same finalized window (bins are deterministic,
    merge = sum), and the read-time quantile over the stored counters
    must equal the batch finalize and sit within one bin width of the
    exact percentile."""
    import datetime

    from gnocchi_spark.functions.sketches import (
        histogram_counts,
        quantile_from_bin_counts,
    )
    from gnocchi_spark.streaming.ingest import streaming_histogram_counts
    from gnocchi_spark.streaming import ingest as si

    landing = str(tmp_path / "hist_landing")
    table = str(tmp_path / "hist_counts")
    ckpt = str(tmp_path / "hist_ckpt")
    t0 = datetime.datetime(2026, 3, 6, 14, 0, 0)

    def t(minute):
        return t0 + datetime.timedelta(minutes=minute)

    LO, HI, BINS = 0.0, 50.0, 64
    rows1 = [("m1", t(i % 50), float((i * 7) % 53), i) for i in range(180)]
    rows2 = [("m1", t(i % 40), float((i * 3) % 47), 1000 + i) for i in range(120)]
    mover = [("m1", t(300), 0.0, 9999)]
    for batch in (rows1, rows2 + mover):
        df = spark.createDataFrame(batch, schema=si.MEASURES_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(landing)

    stream = si.read_measures_stream(spark, landing)
    counts = streaming_histogram_counts(
        stream, "value", ["metric_id"], window="1 hour",
        watermark="10 minutes", lo=LO, hi=HI, bins=BINS,
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # merge stored counter rows (sum per bin) exactly as adjacent runs
    # would, then serve
    stored = (
        spark.read.parquet(table)
        .groupBy("metric_id", "bucket_ts", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    batch_rows = rows1 + rows2 + mover
    bdf = spark.createDataFrame(batch_rows, schema=si.MEASURES_SCHEMA)
    in_window = bdf.where((F.col("ts") >= t(0)) & (F.col("ts") < t(60)))

    want_counts = {
        (r["bin"],): r["cnt"]
        for r in histogram_counts(
            in_window, "value", ["metric_id"], LO, HI, BINS
        ).collect()
    }
    got_counts = {
        (r["bin"],): r["cnt"]
        for r in stored.where(F.col("bucket_ts") == t(0)).collect()
    }
    assert got_counts == want_counts

    served = quantile_from_bin_counts(
        stored.where(F.col("bucket_ts") == t(0)),
        ["metric_id"], q=0.95, lo=LO, hi=HI, bins=BINS,
    ).collect()[0]["approx_quantile"]
    batch_q = quantile_from_bin_counts(
        histogram_counts(in_window, "value", ["metric_id"], LO, HI, BINS),
        ["metric_id"], q=0.95, lo=LO, hi=HI, bins=BINS,
    ).collect()[0]["approx_quantile"]
    assert served == batch_q
    exact = in_window.agg(
        F.percentile(F.col("value"), F.lit(0.95)).alias("p")
    ).collect()[0]["p"]
    assert abs(served - exact) <= (HI - LO) / BINS


def test_stream_static_dim_enrichment_rollup(spark, tmp_path):
    """Stream-static join: the measure stream enriches against a static
    resource dimension (broadcast — no stream state for the join) and
    rolls up per dimension attribute.  The reference's resource-scoped
    aggregation (aggregates API) applied at ingest time."""
    import datetime

    from gnocchi_spark.streaming import ingest as si

    landing = str(tmp_path / "enrich_landing")
    out = str(tmp_path / "enrich_out")
    ckpt = str(tmp_path / "enrich_ckpt")
    t0 = datetime.datetime(2026, 3, 6, 14, 0, 0)

    def t(minute):
        return t0 + datetime.timedelta(minutes=minute)

    rows = [(f"m{i % 4}", t(i % 50), float(i), i) for i in range(120)]
    mover = [("m0", t(300), 0.0, 9999)]
    for batch in (rows, mover):
        spark.createDataFrame(batch, schema=si.MEASURES_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(landing)

    dim = spark.createDataFrame(
        [("m0", "web"), ("m1", "web"), ("m2", "db"), ("m3", "db")],
        "metric_id string, tier string",
    )
    stream = si.read_measures_stream(spark, landing).withWatermark(
        "ts", "10 minutes"
    )
    enriched = stream.join(F.broadcast(dim), "metric_id")
    agg = (
        enriched.groupBy(F.window("ts", "1 hour").alias("win"), "tier")
        .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
        .select(F.col("win.start").alias("bucket_ts"), "tier", "total", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["tier"], r["bucket_ts"]): (r["total"], r["n"])
        for r in spark.read.parquet(out).collect()
    }
    batch_df = spark.createDataFrame(rows, schema=si.MEASURES_SCHEMA)
    want = {
        (r["tier"], t(0)): (r["total"], r["n"])
        for r in batch_df.join(dim, "metric_id")
        .groupBy("tier")
        .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    # same data through the batch banded interval join and the
    # stream-stream time-range join must produce identical pairs,
    # including the exact window edges (inclusive lower, exclusive
    # upper) and cross-key isolation
    from gnocchi_spark.operators.asof import interval_join_pairs
    from gnocchi_spark.streaming.joins import streaming_interval_join

    schema = "sid long, k long, ts timestamp"
    pschema = "pid long, k long, ts timestamp"
    start_rows = [
        (1, 10, _t(0, 0)),
        (2, 10, _t(0, 55)),
        (3, 20, _t(1, 0)),
        (4, 10, _t(30, 0)),  # empty window
    ]
    probe_rows = [
        (100, 10, _t(0, 0)),       # == start 1 ts: in
        (101, 10, _t(0, 59)),      # in window of 1 and 2
        (102, 10, _t(1, 0)),       # exactly W after 1: out for 1, in for 2
        (103, 10, _t(1, 54)),      # last second of 2's window
        (104, 10, _t(1, 55)),      # first second past it: out
        (105, 20, _t(1, 30)),      # other key: start 3 only
        (106, 30, _t(0, 30)),      # key with no starts
    ]
    sdir, pdir = str(tmp_path / "s"), str(tmp_path / "p")
    spark.createDataFrame(start_rows, schema).coalesce(1).write.parquet(sdir)
    spark.createDataFrame(probe_rows, pschema).coalesce(1).write.parquet(pdir)

    batch = sorted(
        (r["sid"], r["p_pid"])
        for r in interval_join_pairs(
            spark.read.parquet(sdir),
            spark.read.parquet(pdir),
            ["k"],
            60.0,
        ).collect()
    )

    s_stream = spark.readStream.schema(schema).parquet(sdir)
    p_stream = spark.readStream.schema(pschema).parquet(pdir)
    joined = streaming_interval_join(s_stream, p_stream, ["k"], 60.0)
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        (r["sid"], r["p_pid"]) for r in spark.read.parquet(out).collect()
    )
    assert streamed == batch
    assert (1, 100) in streamed and (2, 102) in streamed
    assert (1, 102) not in streamed and (2, 104) not in streamed


def test_streaming_interval_join_drops_late_probes(spark, tmp_path):
    # state-bound proof: a probe arriving in a LATER micro-batch, with
    # event time older than the watermark horizon left by batch 1,
    # must not produce a pair — the start's join state was evicted.
    # (Batch parity above proves the in-horizon semantics; this pins
    # the eviction side.)
    from gnocchi_spark.streaming.joins import streaming_interval_join

    schema = "sid long, k long, ts timestamp"
    pschema = "pid long, k long, ts timestamp"
    sdir, pdir = str(tmp_path / "s"), str(tmp_path / "p")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # batch 1: one start at t0 plus far-future watermark pushers on
    # BOTH inputs (the global watermark is the MIN across them) that
    # advance it way past t0 + window, so start 1's join state is
    # evicted after this batch
    spark.createDataFrame(
        [(1, 10, _t(0, 0)), (99, 30, _t(50, 0))], schema
    ).coalesce(1).write.parquet(sdir)
    spark.createDataFrame([(900, 40, _t(50, 0))], pschema).coalesce(1).write.parquet(pdir)

    def run_once():
        s = spark.readStream.schema(schema).parquet(sdir)
        p = spark.readStream.schema(pschema).parquet(pdir)
        q = (
            streaming_interval_join(s, p, ["k"], 60.0)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # batch 2: an in-window probe for start 1, but its event time is
    # now far behind the watermark -> dropped, no pair emitted
    spark.createDataFrame(
        [(901, 10, _t(0, 30))], pschema
    ).coalesce(1).write.mode("append").parquet(pdir)
    run_once()
    got = spark.read.schema(
        "sid long, ts timestamp, p_pid long, p_ts timestamp"
    ).parquet(out)
    pids = {r["p_pid"] for r in got.collect()}
    assert 901 not in pids and 900 not in pids


def test_state_store_plateaus_under_skewed_late_soak(spark):
    """Short in-process soak (VERDICT r06 next #8): the watermarked
    rollup sink's state store must PLATEAU — bounded by keys x the
    back-window horizon, never by cumulative traffic — under a skewed
    key distribution (90% hot key) with injected 2h lateness.  The
    1000-batch artifact lives in SOAK_r{N}.json (tools/soak_streaming);
    this asserts the same curve shape at 60 batches: the tail's
    least-squares slope is ~0 while the fill phase's is strongly
    positive, and late rows are dropped, not buffered."""
    from tools.soak_streaming import run_soak, tail_slope

    curve = run_soak(spark, 60, 300, "rollup")
    assert len(curve) >= 50
    peak = max(c["state_rows"] for c in curve)
    fill = tail_slope(curve[: len(curve) // 4], tail_frac=1.0)
    tail = tail_slope(curve, tail_frac=0.5)
    # fill phase grows ~keys x windows/batch; plateau is flat
    assert fill > 5.0, (fill, peak)
    assert abs(tail) < 3.0, (tail, peak)
    # injected lateness (every 10th row, 2h behind a 1h watermark) is
    # dropped by the watermark, not retained as state
    assert sum(c["late_dropped"] for c in curve[5:]) > 0


def test_streaming_dedup_state_linear_in_distinct_and_ttl_bounded(spark):
    """r08 soak extension (VERDICT r07 next #7): the streaming exact
    dedup operator's state follows DISTINCT CONTENT exactly — a live
    short soak over an unbounded vocabulary must grow at precisely the
    new-hash rate (the documented linear-by-design trade) — while the
    committed 1000-batch artifact (SOAK_r8.json) must show the
    TTL-bounded mode PLATEAUING under the same vocabulary (state ~
    new-hash rate x TTL, tail slope ~0 where exact mode's is +50)."""
    import json
    import os

    from tools.soak_streaming import run_soak, tail_slope

    curve = run_soak(spark, 40, 100, "dedup_exact")
    assert len(curve) >= 30
    slope = tail_slope(curve, tail_frac=1.0)
    # soaked_docs emits exactly rows_per_batch/2 = 50 never-seen hashes
    # per batch; exact state must track them 1:1
    assert 45.0 <= slope <= 55.0, slope

    with open(
        os.path.join(os.path.dirname(__file__), "..", "SOAK_r8.json")
    ) as fh:
        soak = json.load(fh)
    ttl = soak["dedup_ttl"]
    new_rate = ttl["rows_per_batch"] / 2
    # plateau: the tail slope is ~0 against a +new_rate unbounded
    # baseline, and peak state sits far below cumulative distinct
    assert abs(ttl["tail_slope_rows_per_batch"]) < 0.1 * new_rate
    assert ttl["peak_state_rows"] < 0.5 * ttl["batches"] * new_rate
    exact = soak["dedup_exact"]
    assert 0.9 <= exact["slope_vs_distinct_rate"] <= 1.1


def test_streaming_sessions_state_plateaus(spark):
    """r08 soak extension: the native session_window sink's state is
    bounded by open sessions per key (the skewed key gets ONE session,
    not 90% of state) and late rows are dropped by the watermark."""
    from tools.soak_streaming import run_soak, tail_slope

    curve = run_soak(spark, 60, 300, "sessions")
    assert len(curve) >= 50
    peak = max(c["state_rows"] for c in curve)
    tail = tail_slope(curve, tail_frac=0.5)
    # 51 live keys -> one open (ever-merging) session each, plus the
    # per-trigger merge buffer; state must track keys, never traffic
    assert peak < 200, peak
    assert abs(tail) < 1.0, tail
    assert sum(c["late_dropped"] for c in curve[5:]) > 0


def test_streaming_nb_counts_match_batch_and_serve_weights(spark, tmp_path):
    """The streaming NB class-count sink must reproduce the batch
    trainer's count table EXACTLY for the same finalized window
    (counts are integer and sum-mergeable across micro-batches), and
    the weights served from the merged counters must equal the batch
    derivation bit for bit — the classifier retrains continuously
    from ingest without rescanning the corpus."""
    import datetime

    from gnocchi_spark.operators.pipeline import (
        nb_class_counts,
        nb_features,
        nb_weights_from_counts,
    )
    from gnocchi_spark.streaming.ingest import streaming_nb_counts

    landing = str(tmp_path / "nbdocs")
    table = str(tmp_path / "nb_counts")
    ckpt = str(tmp_path / "nb_ckpt")
    schema = "doc_id long, ts timestamp, text string, t int"
    t0 = datetime.datetime(2026, 3, 6, 14, 0, 0)

    def t(minute):
        return t0 + datetime.timedelta(minutes=minute)

    rows1 = [
        (i, t(i % 50), "alpha bravo charlie alpha" if i % 2 == 0 else "xray zulu", i % 2)
        for i in range(40)
    ]
    rows2 = [
        (100 + i, t(i % 40), "bravo delta" if i % 3 == 0 else "zulu xray whiskey", 1 if i % 3 == 0 else 0)
        for i in range(30)
    ]
    mover = [(9999, t(300), "mover", 0)]
    for batch in (rows1, rows2 + mover):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    stream = spark.readStream.schema(schema).parquet(landing)
    counts = streaming_nb_counts(
        stream,
        F.col("t") == 1,
        window="1 hour",
        watermark="10 minutes",
        n_buckets=64,
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # merge stored windows exactly as adjacent runs would: sum per bucket
    streamed = {
        r["bucket"]: (r["cp"], r["cn"])
        for r in spark.read.parquet(table)
        .where((F.col("bucket_ts") >= t(0)) & (F.col("bucket_ts") < t(60)))
        .groupBy("bucket")
        .agg(F.sum("cp").alias("cp"), F.sum("cn").alias("cn"))
        .collect()
    }
    in_window = spark.createDataFrame(rows1 + rows2, schema).where(
        (F.col("ts") >= t(0)) & (F.col("ts") < t(60))
    )
    feats, base = nb_features(in_window, F.col("t") == 1, n_buckets=64)
    batch_counts = nb_class_counts(feats, base)
    batch = {
        r["bucket"]: (r["cp"], r["cn"]) for r in batch_counts.collect()
    }
    assert streamed == batch
    # weight derivation from the merged streamed counters equals the
    # batch derivation bit for bit (same integer inputs, same formula)
    rows_df = spark.createDataFrame(
        [(b, cp, cn) for b, (cp, cn) in sorted(streamed.items())],
        "bucket long, cp long, cn long",
    )
    ws = {
        r["bucket"]: r["w"]
        for r in nb_weights_from_counts(rows_df, n_buckets=64).collect()
    }
    wb = {
        r["bucket"]: r["w"]
        for r in nb_weights_from_counts(batch_counts, n_buckets=64).collect()
    }
    assert ws == wb and -1 in ws and any(b >= 0 for b in ws)
