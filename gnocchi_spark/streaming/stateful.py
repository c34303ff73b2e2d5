"""Custom stateful streaming operators via applyInPandasWithState.

The tumbling/session-window rollups in streaming/ingest.py cover every
aggregation Spark can express with built-in windowed state.  Two
gnocchi semantics need PER-METRIC CARRIED STATE instead:

- ``rate:*`` pre-diffing needs each metric's previous raw point.  The
  shipped solution (ingest.rate_rollup_batch) re-reads the raw
  back window per micro-batch — correct for out-of-order data, but it
  re-reads.  ``stateful_rate_stream`` here is the in-order fast path:
  state = the metric's last (ts, value); each micro-batch diffs
  against it without touching storage.  (The reference's metricd
  equivalent: carbonara re-reads back_window+1 — storage/
  __init__.py:618-622; the state variant has no reference twin, it is
  what Spark's state store makes possible.)
- last-value serving ("current value of every metric") is the same
  state with a different emit rule.

Scale/correctness posture:

- State is keyed by metric — the shuffle is the same metric-keyed
  exchange every rollup already does, and the state store scales
  horizontally with executors (RocksDB-backed in production configs).
- State size is two scalars per metric: bounded by metric cardinality,
  not traffic.  An idle-metric TTL evicts via processing-time timeout
  so a churning metric population cannot grow state without bound.
- OUT-OF-ORDER LIMIT (documented, enforced): a point at or before the
  metric's carried last_ts cannot rewrite history — it is counted in
  ``n_stale`` and dropped, matching the in-order contract.  Streams
  that need late-point rewrites use rate_rollup_batch instead.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RATE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("metric_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("rate", T.DoubleType()),
        T.StructField("n_stale", T.LongType()),
    ]
)

# (last_ts_us, last_value) — epoch micros keep the state tuple plain
# (timestamps in state structs round-trip as micros anyway)
RATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)


def _rate_fn(ttl_minutes: int):
    def fn(
        key: Tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last_ts_us, last_value = (
            state.get if state.exists else (None, None)
        )
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "seq"], kind="stable")
            ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
            vals = pdf["value"].to_numpy()
            out_ts, out_rate, n_stale = [], [], 0
            for t_us, v in zip(ts_us, vals):
                if last_ts_us is not None and t_us <= last_ts_us:
                    n_stale += 1  # in-order contract: no history rewrite
                    continue
                if last_ts_us is not None:
                    out_ts.append(t_us)
                    out_rate.append(v - last_value)
                last_ts_us, last_value = int(t_us), float(v)
            if out_ts:
                yield pd.DataFrame(
                    {
                        "metric_id": key[0],
                        "ts": pd.to_datetime(pd.Series(out_ts), unit="us"),
                        "rate": pd.Series(out_rate, dtype="float64"),
                        "n_stale": pd.Series(
                            [n_stale] * len(out_ts), dtype="int64"
                        ),
                    }
                )
            elif n_stale:
                # no emittable diffs, but surface the stale-drop count
                yield pd.DataFrame(
                    {
                        "metric_id": [key[0]],
                        "ts": [pd.NaT],
                        "rate": [float("nan")],
                        "n_stale": [n_stale],
                    }
                )
        if last_ts_us is not None:
            state.update((int(last_ts_us), float(last_value)))
            state.setTimeoutDuration(ttl_minutes * 60_000)

    return fn


def stateful_rate_stream(
    measures: DataFrame,
    metric_col: str = "metric_id",
    ttl_minutes: int = 60,
) -> DataFrame:
    """Per-point rate stream: value deltas against each metric's carried
    last point (state), no storage re-read.  Emits
    (metric_id, ts, rate, n_stale); rows with a null ts carry only a
    stale-drop count.  Downstream bucketing is a plain rollup over the
    rate column.  Idle metrics evict after ``ttl_minutes`` of no
    traffic (processing-time timeout).

    Because of that timeout, every trigger asks for one more no-data
    micro-batch, so a ``trigger(availableNow=True)`` query over this
    stream never terminates and ``processAllAvailable()`` never
    returns.  Stop such a query explicitly once its input is committed
    (``tests/test_stateful.py``'s ``_drain`` helper shows the pattern)."""
    return measures.groupBy(metric_col).applyInPandasWithState(
        _rate_fn(ttl_minutes),
        outputStructType=RATE_OUT_SCHEMA,
        stateStructType=RATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text_hash", T.StringType()),
    ]
)

# (first_doc_id, n_seen) — one tiny tuple per distinct content hash
DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_doc_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _dedup_fn(ttl_minutes: int | None):
    def fn(
        key: Tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        first_doc_id, n_seen = state.get if state.exists else (None, 0)
        for pdf in pdf_iter:
            ids = pdf["doc_id"].sort_values(kind="stable")
            if len(ids) == 0:
                continue
            if first_doc_id is None:
                first_doc_id = int(ids.iloc[0])
                yield pd.DataFrame(
                    {"doc_id": [first_doc_id], "text_hash": [key[0]]}
                )
            n_seen += len(ids)
        state.update((int(first_doc_id), int(n_seen)))
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60_000)

    return fn


def streaming_dedup_stream(
    docs: DataFrame,
    hash_col: str = "text_hash",
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Cross-micro-batch exact dedup: emit each content hash's FIRST
    occurrence (lowest doc_id inside its arrival batch), drop every
    later duplicate — the streaming twin of dedup_exact/bloom_batch_dedup
    for a continuously-arriving corpus.

    The group key IS the content hash, so state shards uniformly across
    executors by definition (md5 keys cannot skew), and each state entry
    is one (first_doc_id, n_seen) tuple — memory is bounded by distinct
    content, not traffic.  ``ttl_minutes`` turns it into a windowed
    dedup ("suppress repeats seen within the last X minutes") for
    unbounded-vocabulary streams where exact forever-dedup would grow
    state without bound; None means exact semantics.  With
    ``ttl_minutes`` the state uses a processing-time timeout, so, as for
    stateful_rate_stream, a ``trigger(availableNow=True)`` query never
    terminates and ``processAllAvailable()`` never returns: stop it
    explicitly once its input is committed.

    Input must carry (doc_id, ``hash_col``); compute the hash map-side
    (md5 of the normalized text) BEFORE this operator so the only
    shuffle is the state exchange itself.
    """
    return docs.groupBy(hash_col).applyInPandasWithState(
        _dedup_fn(ttl_minutes),
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
