"""Crash-restart recovery for the streaming sinks (r12, VERDICT r11
next #1 — the last operational claim made but not demonstrated).

Reference semantics to match: measures survive daemon death until
processed — gnocchi's chef leaves sack contents in place until the
aggregation that consumed them has been durably written
(/root/reference/gnocchi/chef.py:383-424).  The Spark analogue is the
streaming checkpoint: offsets are WAL-logged before a micro-batch runs,
so any death is replayed from the last committed epoch.  Every sink
writes through ``SnapshotStore.merge``, which is idempotent by key, so
a replayed epoch re-applies to the same result.  These tests kill a run
mid-stream two different ways and assert the restarted query converges
to the batch recompute row-for-row:

- ``stop()`` between micro-batches (the store sink in append mode;
  the restart resumes from the checkpoint instead of re-reading);
- a crash between the snapshot store's data-file write and its O_EXCL
  manifest commit (orphan files only, swept by vacuum — no destructive
  window exists on this path).
"""

from __future__ import annotations

import datetime
import time

import pytest
from pyspark.sql import functions as F

from gnocchi_spark.operators import store as st
from gnocchi_spark.operators.rollup import melt_rollup, rollup
from gnocchi_spark.streaming import ingest as si


def _t(minute, second=0):
    return datetime.datetime(2026, 3, 6, 14, minute, second)


def _write_file(spark, path, rows):
    df = spark.createDataFrame(rows, schema=si.MEASURES_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def _stream(spark, landing):
    """One-file-per-trigger measure stream so a run of N source files is
    N replayable micro-batches."""
    return (
        spark.readStream.format("parquet")
        .schema(si.MEASURES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(landing)
    )


def _rows_three_files(n_per_file=40):
    """Three source files of per-metric points plus a final far-future
    watermark mover (14:47:13 — deliberately NOT a bucket boundary, so
    append emission has no <=-vs-< edge).  File ``f`` covers minutes
    ``[8f, 8f+8)`` — strictly advancing, so no file's data is late
    relative to the watermark the previous file established and the
    streamed result must equal the batch recompute exactly."""
    files = []
    seq = 0
    for f in range(3):
        rows = []
        for i in range(n_per_file):
            seq += 1
            rows.append(
                ("m%d" % (i % 3), _t(f * 8 + i % 8, (i * 7) % 60), float(f * 100 + i), seq)
            )
        files.append(rows)
    files[-1].append(("m0", _t(47, 13), 999.0, seq + 1))
    return files


@pytest.fixture()
def no_hooks():
    yield
    st._crash_hook = None


_METHODS = ["mean", "count"]
_COLS = ["metric_id", "method", "bucket_ts", "value"]


def _sink(store):
    """The store sink: each micro-batch melted to the served long layout
    and merged by key."""
    return lambda df, _epoch: store.merge(melt_rollup(df, _METHODS, 300.0))


def _stored(spark, store):
    return store.read(spark).select(*_COLS).orderBy(*_COLS[:3]).collect()


def _stop_after_first_commit(q, timeout=90.0):
    """Poll until at least one micro-batch with input rows committed,
    then stop() — a kill in the idle gap between micro-batches."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if done:
            q.stop()
            q.awaitTermination(30)
            return sum(p["numInputRows"] for p in done)
        time.sleep(0.2)
    q.stop()
    raise AssertionError("no micro-batch committed before timeout")


def test_append_sink_stop_and_restart_matches_batch(spark, tmp_path, no_hooks):
    """Kill the store sink in append mode between micro-batches, restart
    from the same checkpoint: the final store equals the batch recompute
    restricted to watermark-finalized windows, and the restart resumed
    (did not re-read committed files)."""
    landing = str(tmp_path / "landing")
    store = st.SnapshotStore(str(tmp_path / "store"), num_sacks=8)
    ckpt = str(tmp_path / "ckpt")
    files = _rows_three_files()
    for rows in files:
        _write_file(spark, landing, rows)
    all_rows = [r for rows in files for r in rows]

    def run(**trigger):
        agg = si.streaming_rollup(_stream(spark, landing), _METHODS, 300.0, 600)
        return (
            agg.writeStream.outputMode("append")
            .foreachBatch(_sink(store))
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    # incarnation 1: slow trigger cadence so the stop lands in the gap
    rows_before_kill = _stop_after_first_commit(run(processingTime="5 seconds"))
    assert 0 < rows_before_kill < len(all_rows)

    # incarnation 2: same pipeline, same checkpoint, drain to the end
    q2 = run(availableNow=True)
    q2.awaitTermination(120)
    replayed = sum(p["numInputRows"] for p in q2.recentProgress)
    # resumed, not reprocessed: the committed prefix is not re-read
    assert replayed < len(all_rows)

    # batch recompute, restricted to windows the final watermark closed
    batch = spark.createDataFrame(all_rows, schema=si.MEASURES_SCHEMA)
    wm = max(r[1] for r in all_rows) - datetime.timedelta(seconds=600)
    exp = (
        rollup(batch, _METHODS, 300.0)
        .where(F.col("bucket_ts") + F.expr("INTERVAL 300 SECONDS") <= F.lit(wm))
        .select(*_COLS)
        .orderBy(*_COLS[:3])
        .collect()
    )
    assert [tuple(r) for r in _stored(spark, store)] == [tuple(r) for r in exp]


def test_snapshot_store_sink_crash_before_commit_replays_and_vacuums(
    spark, tmp_path, no_hooks
):
    """The transactional route (VERDICT r11 next #1's second arm): a
    death between the snapshot store's data-file write and its O_EXCL
    manifest commit leaves the published table UNTOUCHED — the replayed
    epoch recommits, the final read equals the batch recompute, and
    vacuum() sweeps the crashed attempt's orphan files."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    store = st.SnapshotStore(str(tmp_path / "store"), num_sacks=8)
    files = _rows_three_files()
    for rows in files:
        _write_file(spark, landing, rows)
    all_rows = [r for rows in files for r in rows]

    def run():
        agg = si.streaming_rollup(_stream(spark, landing), _METHODS, 300.0, 600)
        return (
            agg.writeStream.outputMode("update")
            .foreachBatch(_sink(store))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    fired = []

    def hook(name):
        if name == "store:pre-commit" and not fired:
            fired.append(name)
            raise RuntimeError(name)

    st._crash_hook = hook
    q = run()
    try:
        q.awaitTermination(120)
    except Exception:
        pass
    assert fired  # the crash point was actually reached
    assert q.exception() is not None, "query did not fail"
    # the published table is exactly the committed prefix: version 1
    # (epoch 0's empty-store commit), reading fine during the crash
    v_after_crash = store.current().version
    assert v_after_crash == 1
    assert store.read(spark).count() > 0

    st._crash_hook = None
    q = run()
    q.awaitTermination(120)

    batch = spark.createDataFrame(all_rows, schema=si.MEASURES_SCHEMA)
    exp = (
        rollup(batch, _METHODS, 300.0).select(*_COLS).orderBy(*_COLS[:3]).collect()
    )
    assert [tuple(r) for r in _stored(spark, store)] == [tuple(r) for r in exp]

    # the crashed attempt's data files are orphans; vacuum sweeps them
    removed = store.vacuum(keep_versions=1)
    assert removed  # at least the orphaned merge attempt
    assert [tuple(r) for r in _stored(spark, store)] == [tuple(r) for r in exp]
