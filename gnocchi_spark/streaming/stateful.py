"""Custom stateful streaming operators via applyInPandasWithState.

The tumbling/session-window rollups in streaming/ingest.py cover every
aggregation Spark can express with built-in windowed state.
Cross-batch exact dedup needs CARRIED STATE keyed by content hash
instead: ``streaming_dedup_stream`` keeps one (first_doc_id, n_seen)
tuple per distinct hash and emits each hash's first occurrence.

``rate:*`` has no operator here.  It needs each metric's previous raw
point, and its one path is ``ingest.rate_rollup_batch``: the reference
metricd's re-read of back_window + 1 raw points (storage/
__init__.py:618-622), bound as a ``foreachBatch`` body, so late points
rewrite their buckets and a replayed epoch is idempotent.

Scale posture: the group key IS the content hash, so the state shuffle
is uniform and the state store scales horizontally with executors
(RocksDB-backed in production configs); state is bounded by distinct
content, or by new-hash rate x TTL with ``ttl_minutes``.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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
    ``ttl_minutes`` the state uses a processing-time timeout, so a
    ``trigger(availableNow=True)`` query never terminates and
    ``processAllAvailable()`` never returns: stop it explicitly once
    its input is committed.

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
