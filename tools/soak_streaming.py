"""Streaming state-store soak (VERDICT r06 next #8).

SCALE.md claims every streaming sink's state is traffic-bounded —
window state bounded by the back-window horizon, stateful-operator
state by live keys x TTL — never by cumulative traffic.  This harness
produces the evidence: a ~1000-micro-batch soak of the watermarked
rollup sink (plus shorter soaks of the applyInPandasWithState dedup
operator and the session-window sink) against deterministic
rate-micro-batch sources with

- a SKEWED key distribution (90% of traffic on one hot metric, the
  rest across 50 cold metrics) — state rows must not follow traffic
  share, only key count;
- INJECTED LATENESS (every 10th row arrives 2 h late, beyond the 1 h
  back-window watermark) — late rows must be dropped, not retained.

Per batch it records the state operator's ``numRowsTotal`` (and the
watermark's late-drop counter); the curve must plateau: state grows
while the first watermark horizon fills, then stays flat forever.
Writes ``SOAK_r{N}.json`` (round from $SPARK_GRAFT_ROUND, default 7)
at the repo root; ``tests/test_streaming.py`` runs a shortened soak
in-process and asserts the tail slope ~ 0.

Usage::

    python tools/soak_streaming.py [n_batches] [rows_per_batch]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def soaked_measures(spark, rows_per_batch: int):
    """Deterministic skewed + late measure stream off rate-micro-batch.

    Event time advances one second per row (so one batch advances the
    event clock by ``rows_per_batch`` seconds); 90% of rows land on the
    'hot' metric; every 10th row is 2 h late — beyond the 1 h
    back-window watermark, so it must be DROPPED, not buffered.
    """
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    base = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    event_ts = F.timestamp_micros(
        F.unix_micros(base) + F.col("value") * 1_000_000
    )
    late = F.col("value") % 10 == 7
    return src.select(
        F.when(
            F.pmod(F.xxhash64("value"), 10) < 9, F.lit("hot")
        ).otherwise(
            F.concat(F.lit("cold_"), (F.pmod(F.xxhash64("value", F.lit(1)), 50)).cast("string"))
        ).alias("metric_id"),
        F.when(late, F.timestamp_micros(F.unix_micros(event_ts) - 7200 * 1_000_000))
        .otherwise(event_ts)
        .alias("ts"),
        (F.col("value") % 100).cast("double").alias("value"),
        F.col("value").alias("seq"),
    )


def soaked_docs(spark, rows_per_batch: int, repeat: int = 2):
    """Deterministic UNBOUNDED-vocabulary document stream: every
    ``repeat`` consecutive doc_ids share one content hash, so each
    batch introduces rows_per_batch/repeat never-seen-before hashes
    forever — the adversarial input for exact streaming dedup (state
    must grow linearly in distinct content) and the case the TTL mode
    exists to bound."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    return src.select(
        F.col("value").alias("doc_id"),
        F.md5(F.floor(F.col("value") / repeat).cast("string")).alias(
            "text_hash"
        ),
    )


def run_soak(spark, n_batches: int, rows_per_batch: int, which: str = "rollup"):
    """Run one soak; returns the per-batch curve.

    which = 'rollup': watermarked 5-min tumbling windows, 1 h
    back-window (streaming_rollup — the append/merge sinks' shape).
    which = 'dedup_ttl' / 'dedup_exact': the streaming exact-dedup
    operator over an unbounded vocabulary, with a 1-minute TTL
    (state must plateau at ~new-hash rate x TTL) vs exact forever
    semantics (state must track cumulative distinct — linear by
    DESIGN, the documented trade ttl_minutes exists for).
    which = 'sessions': the native session_window sink over the skewed
    + late measure stream (state = open sessions per key, bounded by
    key count, not traffic).
    """
    from gnocchi_spark.streaming.ingest import (
        streaming_rollup,
        streaming_session_stats,
    )
    from gnocchi_spark.streaming.stateful import streaming_dedup_stream

    mode = "append"
    if which == "rollup":
        out = streaming_rollup(
            soaked_measures(spark, rows_per_batch),
            ["mean", "count"],
            300.0,
            back_window_seconds=3600.0,
        )
    elif which == "dedup_ttl":
        out = streaming_dedup_stream(
            soaked_docs(spark, rows_per_batch), ttl_minutes=1
        )
    elif which == "dedup_exact":
        out = streaming_dedup_stream(
            soaked_docs(spark, rows_per_batch), ttl_minutes=None
        )
    elif which == "sessions":
        out = streaming_session_stats(
            soaked_measures(spark, rows_per_batch),
            ["metric_id"],
            gap_seconds=1800.0,
            watermark="1 hour",
            value_col="value",
        )
    else:
        raise ValueError(which)
    # fresh checkpoint per CALL (not per pid): reusing a previous run's
    # committed offsets would resume at the plateau and break the
    # fill-phase assertion; the dir is removed on exit either way
    ckpt = tempfile.mkdtemp(prefix=f"soak_ckpt_{which}_")
    q = (
        out.writeStream.outputMode(mode)
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    curve = {}
    try:
        deadline = time.time() + 3600
        while len(curve) < n_batches and time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            for p in q.recentProgress:
                bid = p["batchId"]
                ops = p.get("stateOperators") or []
                if bid in curve or not ops:
                    continue
                curve[bid] = {
                    "state_rows": ops[0].get("numRowsTotal"),
                    "late_dropped": ops[0].get("numRowsDroppedByWatermark", 0),
                    "input_rows": p.get("numInputRows"),
                }
            time.sleep(0.1)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return [dict(batch=b, **curve[b]) for b in sorted(curve)]


def tail_slope(curve, tail_frac=0.5):
    """Least-squares slope of state_rows over the last ``tail_frac`` of
    the curve, in rows per batch — the plateau assertion's statistic."""
    pts = [
        (c["batch"], c["state_rows"])
        for c in curve
        if c["state_rows"] is not None
    ]
    tail = pts[int(len(pts) * (1 - tail_frac)):]
    n = len(tail)
    if n < 2:
        return 0.0
    sx = sum(x for x, _ in tail)
    sy = sum(y for _, y in tail)
    sxx = sum(x * x for x, _ in tail)
    sxy = sum(x * y for x, y in tail)
    denom = n * sxx - sx * sx
    return (n * sxy - sx * sy) / denom if denom else 0.0


def main():
    from gnocchi_spark.session import get_spark

    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    rows_per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    rnd = os.environ.get("SPARK_GRAFT_ROUND", "7")
    # micro-batch latency, not throughput, bounds the soak: a handful
    # of state-store partitions keeps per-batch overhead ~1 s (64
    # partitions measured ~12 s/batch for the same 500 rows)
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")
    spark = get_spark("gnocchi-spark-soak")
    spark.sparkContext.setLogLevel("ERROR")
    # production state backend when available (r09): the soak's row
    # curves are backend-independent, but running them under RocksDB
    # exercises the configuration the 100 TB deployment would use
    from gnocchi_spark.session import enable_rocksdb_state

    rocksdb = enable_rocksdb_state(spark)

    out = {
        "n_batches": n_batches,
        "rows_per_batch": rows_per_batch,
        "rocksdb_state_store": rocksdb,
    }
    plan = (
        ("rollup", n_batches, rows_per_batch),
        # r08 (VERDICT r07 next #7): the remaining stateful sinks.
        # dedup runs at a smaller batch so the 1-min-TTL plateau level
        # (~new-hash rate x TTL) stays a readable curve, and long
        # enough to cross several TTL horizons
        ("dedup_ttl", n_batches, max(50, rows_per_batch // 5)),
        ("dedup_exact", max(200, n_batches // 3), max(50, rows_per_batch // 5)),
        ("sessions", max(300, n_batches // 2), rows_per_batch),
    )
    for which, nb, rpb in plan:
        t0 = time.time()
        curve = run_soak(spark, nb, rpb, which)
        if not curve:
            raise RuntimeError(f"{which} soak produced no progress rows")
        slope = tail_slope(curve)
        peak = max((c["state_rows"] or 0) for c in curve)
        dropped = sum(c["late_dropped"] or 0 for c in curve)
        # keep the artifact small: every 10th point plus the last
        thin = [c for i, c in enumerate(curve) if i % 10 == 0] + curve[-1:]
        out[which] = {
            "batches": len(curve),
            "rows_per_batch": rpb,
            "wall_s": round(time.time() - t0, 1),
            "peak_state_rows": peak,
            "tail_slope_rows_per_batch": round(slope, 4),
            "late_rows_dropped": dropped,
            "curve_every_10th": thin,
        }
        if which == "dedup_exact":
            # exact semantics: state IS cumulative distinct content —
            # the slope must equal the new-hash rate (rpb/2 per batch,
            # see soaked_docs), the linear-by-design case the TTL mode
            # is documented to bound
            expected = rpb / 2
            out[which]["distinct_per_batch"] = expected
            out[which]["slope_vs_distinct_rate"] = round(slope / expected, 4)
        print(
            f"{which}: {len(curve)} batches, peak state {peak}, "
            f"tail slope {slope:.4f} rows/batch, late dropped {dropped}",
            file=sys.stderr,
        )
    path = os.path.join(REPO, f"SOAK_r{rnd}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(path)


if __name__ == "__main__":
    main()
