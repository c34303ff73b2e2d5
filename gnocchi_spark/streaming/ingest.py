"""Streaming measure ingestion -> materialized rollups.

Reference write path (gnocchi/storage/__init__.py:583-692; sacks
gnocchi/incoming/__init__.py:161-257; daemons gnocchi/cli/metricd.py)
re-expressed as Structured Streaming:

===========================  =========================================
Reference concept            Spark equivalent here
===========================  =========================================
sack (ingestion shard)       shuffle partition of groupBy(metric_id);
                             the store's data files are sack-keyed
back_window late bound       ``withWatermark(ts, back_window x gran)``;
                             older points silently dropped, matching
                             BoundTimeSerie.set_values
                             (carbonara.py:321-373,465-476)
mutable tail splits          streaming state (update mode) melted to
                             the served long layout and merged into a
                             ``SnapshotStore`` per micro-batch
                             (``foreachBatch(lambda df, _epoch: store.
                             merge(melt_rollup(df, methods, g)))``)
frozen splits                watermark-finalized windows (append mode
                             emits each bucket exactly once), through
                             the same store sink
refresh-on-read              ``read_with_tail`` — union of the rollup
                             table and an on-the-fly aggregation of
                             not-yet-processed measures
                             (rest/api.py:539-547, chef.py:347-381)
===========================  =========================================

Scale design: the only shuffle is the windowed groupBy keyed
(metric_id, window) — state is per-bucket partial aggregates, uniform
across metrics (no hot keys: bucket count per metric is bounded by the
policy).  Every sink writes through ``SnapshotStore.merge``, which
rewrites only the sacks a micro-batch touches and publishes them with
one atomic manifest commit — the equivalent of the reference's
rewrite-mutable / compress-frozen split lifecycle, with readers pinned
to older manifests left undisturbed.  Merging by key makes a replayed
epoch idempotent, so a restart from the checkpoint converges to the
batch recompute.

``rate:*`` methods need the previous raw point per metric (lag state,
storage/__init__.py:618-622).  Rate aggregates are not mergeable
partials, so the windowed streaming aggregation can't host them;
``rate_rollup_batch`` implements the reference's own answer — each
micro-batch re-reads the raw back-window (+1 granularity of slack for
the predecessor point) and recomputes every bucket from the earliest
new point forward, merging into the rollup store.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gnocchi_spark.functions.aggregates import agg_expr, safe_alias, std_having
from gnocchi_spark.functions.timeutil import granularity_label, granularity_seconds
from gnocchi_spark.operators.store import SnapshotStore
from gnocchi_spark.policy import parse_method

MEASURES_SCHEMA = T.StructType(
    [
        T.StructField("metric_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("seq", T.LongType()),
    ]
)


def read_measures_stream(
    spark: SparkSession, landing_dir: str, fmt: str = "parquet"
) -> DataFrame:
    """File-source measure stream from a landing directory (the batch
    POST endpoints of the reference become 'drop a file here')."""
    return (
        spark.readStream.format(fmt)
        .schema(MEASURES_SCHEMA)
        .option("path", landing_dir)
        .load()
    )


def _window_aggs(
    methods: Sequence[str], value_col: str, ts_col: str
) -> list[Column]:
    aggs: list[Column] = []
    need_count = any(parse_method(m)[0] == "std" for m in methods)
    if need_count and "count" not in methods:
        aggs.append(F.count(F.col(value_col)).alias("__cnt"))
    for m in methods:
        base, _, _ = parse_method(m)
        if base == "rate":
            raise ValueError(
                "rate:* needs per-metric lag state; use "
                "rate_rollup_batch (micro-batch re-read) instead of "
                "the windowed streaming aggregation"
            )
        aggs.append(agg_expr(m, value=value_col, ts=ts_col).alias(safe_alias(m)))
    return aggs


def streaming_rollup(
    measures: DataFrame,
    methods: Sequence[str],
    granularity: float | str,
    back_window_seconds: float,
    metric_col: str = "metric_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window aggregation for one granularity.

    The watermark is the back-window bound: a point older than
    ``max(event time) - back_window`` is dropped exactly like
    BoundTimeSerie truncation.  Multi-granularity policies start one
    query per granularity off the same source stream (each granularity
    has its own watermark horizon in the reference too: block_size is
    per-policy coarsest, storage/__init__.py:618-622).
    """
    secs = float(granularity_seconds(granularity))
    gran_str = f"{int(secs)} seconds" if secs.is_integer() else f"{secs} seconds"
    wm = measures.withWatermark(ts_col, f"{int(back_window_seconds)} seconds")
    agged = wm.groupBy(
        F.col(metric_col).alias("metric_id"),
        F.window(F.col(ts_col), gran_str).alias("w"),
    ).agg(*_window_aggs(methods, value_col, ts_col))

    have_cnt = "count" if "count" in methods else "__cnt"
    cols: list[Column] = []
    for m in methods:
        c: Column = F.col(safe_alias(m))
        if parse_method(m)[0] == "std":
            # std bucket suppression (carbonara.py:180-182)
            c = F.when(std_having(F.col(have_cnt)), c)
        cols.append(c.alias(safe_alias(m)))
    return agged.select(
        "metric_id",
        F.col("w.start").alias("bucket_ts"),
        # the string label shared with the batch long layout, so reads
        # mixing streamed and batch-materialized buckets (get_measures
        # filters on granularity_label) see ONE schema
        F.lit(granularity_label(granularity)).alias("granularity"),
        *cols,
    )


def rate_rollup_batch(
    batch_df: DataFrame,
    raw_store: SnapshotStore,
    rollup_store: SnapshotStore,
    methods: Sequence[str],
    granularity: float | str,
    back_window_seconds: float,
    metric_col: str = "metric_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> None:
    """One micro-batch of the streaming ``rate:*`` pipeline — the
    reference's re-read design (storage/__init__.py:618-622): rate needs
    each point's raw predecessor, so instead of merging rate aggregates
    (impossible: they are not mergeable partials) every batch

    1. merges its raw points into ``raw_store`` keyed by (metric, ts),
       so a replayed epoch replaces its own points instead of adding
       them a second time,
    2. drops points older than (per-metric newest ts - back_window) —
       BoundTimeSerie truncation (carbonara.py:321-373),
    3. re-reads the store from just before the earliest new bucket
       (back_window + one granularity of slack buys the predecessor
       point, the "+1" in the reference), and
    4. recomputes every bucket >= that earliest new bucket per metric —
       the reference's recompute-from-first-new-timestamp — merging the
       result into ``rollup_store``.

    Bind it as the ``foreachBatch`` body of a query over the RAW
    measure stream; no streaming aggregation state is kept (the raw
    store plus the re-read IS the lag state)::

        measures.writeStream.foreachBatch(
            lambda df, _epoch: rate_rollup_batch(
                df, raw_store, rollup_store, ["rate:mean"], 60.0, 600)
        ).option("checkpointLocation", ckpt).start()

    All heavy steps are batch DataFrame plans (the lag window shuffles
    by metric only for the affected metrics' re-read slice).
    """
    from gnocchi_spark.functions.timeutil import truncate_to_bucket
    from gnocchi_spark.operators.rollup import rollup

    if not batch_df.take(1):
        return
    raw_store.merge(batch_df, key_cols=(metric_col, ts_col))
    store = raw_store.read(batch_df.sparkSession)

    # back-window truncation against the newest point per metric
    newest = store.groupBy(F.col(metric_col).alias("__m")).agg(
        F.max(ts_col).alias("__newest")
    )
    fresh = (
        batch_df.join(
            F.broadcast(newest), batch_df[metric_col] == F.col("__m")
        )
        .where(
            F.col(ts_col)
            >= F.col("__newest") - F.expr(f"INTERVAL {int(back_window_seconds)} SECONDS")
        )
        .drop("__m", "__newest")
    )

    # earliest affected bucket per metric
    b0 = fresh.groupBy(F.col(metric_col).alias("__m")).agg(
        F.min(truncate_to_bucket(F.col(ts_col), granularity)).alias("__b0")
    )
    slack = float(back_window_seconds) + float(granularity_seconds(granularity) or 0.0)
    ctx = (
        store.join(F.broadcast(b0), store[metric_col] == F.col("__m"))
        .where(
            F.col(ts_col) >= F.col("__b0") - F.expr(f"INTERVAL {int(slack)} SECONDS")
        )
    )
    recomputed = (
        rollup(ctx, list(methods), granularity, metric_col, ts_col, value_col)
        .join(
            F.broadcast(b0),
            (F.col("metric_id") == F.col("__m")) & (F.col("bucket_ts") >= F.col("__b0")),
        )
        .drop("__m", "__b0")
    )
    rollup_store.merge(recomputed)


def read_with_tail(
    rollup_table: DataFrame,
    unprocessed_measures: DataFrame,
    methods: Sequence[str],
    granularity: float | str,
    exact: bool = False,
) -> DataFrame:
    """Refresh-on-read (``?refresh=true``): serve the rollup table plus
    an on-the-fly aggregation of measures the pipeline has not
    processed yet, preferring recomputed buckets on overlap.

    Cleaner than the reference's synchronous process-pending-measures
    (chef.py:347-381): the read path never blocks on the writer.
    ``exact`` selects the replay-exact aggregation mode for the
    recomputed tail buckets (see functions.aggregates.agg_expr).
    """
    from gnocchi_spark.operators.rollup import rollup_wide

    tail = rollup_wide(unprocessed_measures, methods, granularity, exact=exact)
    tail = tail.select(
        "metric_id",
        "bucket_ts",
        F.lit(granularity_label(granularity)).alias("granularity"),
        *[safe_alias(m) for m in methods],
    )
    cols = ["metric_id", "bucket_ts", "granularity", *[safe_alias(m) for m in methods]]
    base = rollup_table.select(*cols).join(
        tail.select("metric_id", "bucket_ts").distinct(),
        on=["metric_id", "bucket_ts"],
        how="left_anti",
    )
    return base.unionByName(tail.select(*cols))


def streaming_session_stats(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    watermark: str = "1 hour",
    value_col: str | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.asof.session_stats``: gap-based
    session windows via Spark's native ``session_window`` aggregation.

    The watermark bounds session state exactly like back_window bounds
    bucket state in streaming_rollup: a session closes (and, in append
    mode, emits exactly once) when the watermark passes its end + gap.
    State is keyed (key, session), uniform per key — no hot-key risk
    beyond the key distribution itself.

    Semantics note vs the batch operator: ``session_window`` starts a
    new session when the gap is STRICTLY exceeded only after
    [start, last+gap) closes, i.e. a point at exactly last+gap opens a
    new session, where the batch operator keeps it (diff > gap).  The
    batch golden test pins the batch rule; this one pins Spark's,
    matching the reference's tolerance for boundary drift between
    batch/stream paths (carbonara BoundTimeSerie vs AggregatedTimeSerie
    rounding).
    """
    w = stream.withWatermark(ts_col, watermark)
    gap = f"{gap_seconds} seconds"
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col:
        aggs.append(F.sum(value_col).alias("value_sum"))
    return (
        w.groupBy(
            F.session_window(F.col(ts_col), gap).alias("session"),
            *[F.col(k) for k in key_cols],
        )
        .agg(*aggs)
        .select(
            *key_cols,
            F.col("session.start").alias("window_start"),
            "session_start",
            "session_end",
            "n_events",
            *(["value_sum"] if value_col else []),
        )
    )


def streaming_hll_registers(
    stream: DataFrame,
    key: "F.Column",
    group_cols: Sequence[str] = ("metric_id",),
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    p: int = 9,
) -> DataFrame:
    """Streaming half of the HLL distinct sketch: windowed
    (group, register) -> max-rank aggregation over an unbounded
    stream.  Finalized windows append a register table; read-side,
    ``functions.sketches.hll_estimate_from_registers`` turns any
    grouping of that table into distinct counts, and register rows
    from different runs MERGE by plain max.

    State per (group, window) is at most 2^p register rows —
    cardinality-independent, which is the whole point of sketching a
    distinct count in a stream; the watermark closes windows exactly
    like streaming_rollup's back_window bound.
    """
    from gnocchi_spark.functions.sketches import hll_register_cols

    idx, rank = hll_register_cols(key, p)
    wm = stream.withWatermark(ts_col, watermark)
    return (
        wm.select(*group_cols, F.col(ts_col), idx.alias("reg"), rank.alias("rank"))
        .groupBy(*group_cols, F.window(ts_col, window).alias("win"), "reg")
        .agg(F.max("rank").alias("maxrank"))
        .select(
            *group_cols,
            F.col("win.start").alias("bucket_ts"),
            "reg",
            "maxrank",
        )
    )


def streaming_cms_counters(
    stream: DataFrame,
    key: "F.Column",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Streaming half of the Count-Min sketch: windowed
    (row, idx) -> count aggregation — the frequency twin of
    streaming_hll_registers.  Finalized windows append a counter
    table; sketches for the same window from different runs (or
    adjacent windows for a coarser serving range) MERGE by summing
    counters, and ``functions.sketches.cms_estimate`` probes any
    merged slice at read time.

    State per window is at most d*w counter rows — traffic-
    independent, same bound as the batch build's shuffle.
    """
    digest = F.md5(key)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("row"),
                    (
                        F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10)
                        .cast("long")
                        % F.lit(w)
                    ).cast("int").alias("idx"),
                )
                for j in range(d)
            ]
        )
    ).alias("e")
    wm = stream.withWatermark(ts_col, watermark)
    return (
        wm.select(F.col(ts_col), rows)
        .select(ts_col, "e.row", "e.idx")
        .groupBy(F.window(ts_col, window).alias("win"), "row", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("bucket_ts"), "row", "idx", "cnt")
    )


def streaming_histogram_counts(
    stream: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = ("metric_id",),
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    lo: float = 0.0,
    hi: float = 1.0,
    bins: int = 256,
) -> DataFrame:
    """Streaming half of the fixed-grid histogram quantile: windowed
    (group, bin) -> count aggregation — the quantile twin of
    streaming_hll_registers / streaming_cms_counters.  Fixed bounds
    (not per-window min/max) are what keep the counters sum-mergeable:
    finalized windows append to a counter table, adjacent windows or
    re-runs merge by summing, and
    ``functions.sketches.quantile_from_bin_counts`` serves any merged
    slice at read time.

    State per (group, window) is at most ``bins`` counter rows —
    traffic-independent, the same bound as the batch build's shuffle.
    """
    from gnocchi_spark.functions.sketches import fixed_bin_col

    b = fixed_bin_col(F.col(value_col), lo, hi, bins)
    wm = stream.withWatermark(ts_col, watermark)
    return (
        wm.where(F.col(value_col).isNotNull())
        .select(*group_cols, F.col(ts_col), b.alias("bin"))
        .groupBy(*group_cols, F.window(ts_col, window).alias("win"), "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *group_cols,
            F.col("win.start").alias("bucket_ts"),
            "bin",
            "cnt",
        )
    )


def streaming_nb_counts(
    stream: DataFrame,
    is_target,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Streaming refresh for the naive-Bayes domain classifier
    (operators/pipeline.nb_domain_classifier): maintain the SHARED
    (bucket, cp, cn) class-count contract incrementally over a
    document stream — the classifier-training twin of the HLL/CMS/
    histogram sketch sinks.  Finalized windows append to a counter
    table; adjacent windows or re-runs MERGE BY SUMMING cp/cn per
    bucket (class counts are sum-mergeable by construction), and
    ``operators.pipeline.nb_weights_from_counts`` serves the
    integer-quantized weights from any merged slice at read time — so
    the deployed quality gate retrains continuously from ingest
    without ever rescanning the corpus.

    Rows: (bucket_ts, bucket, cp, cn) — token buckets >= 0 carry
    per-class TOKEN counts (the DSIR md5-bucket convention, identical
    to the batch trainer), bucket == -1 carries per-class DOCUMENT
    counts (the prior's inputs).  State per window is at most
    ``n_buckets`` + 1 rows — traffic- and vocabulary-independent, the
    same bound as the batch build's shuffle.
    """
    from gnocchi_spark.operators.textstats import tokens

    wm = (
        stream.withWatermark(ts_col, watermark)
        .where(F.length(F.col(text_col)) > 0)
        .select(
            F.col(ts_col),
            F.when(is_target, 1).otherwise(0).alias("__pos"),
            F.col(text_col).alias("__text"),
        )
    )
    tok_rows = wm.select(
        ts_col,
        "__pos",
        F.explode(tokens(F.col("__text"))).alias("__tok"),
    ).select(
        ts_col,
        "__pos",
        (
            F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    )
    doc_rows = wm.select(
        ts_col, "__pos", F.lit(-1).cast("long").alias("bucket")
    )
    return (
        tok_rows.unionByName(doc_rows)
        .groupBy(F.window(ts_col, window).alias("win"), "bucket")
        .agg(
            F.sum("__pos").cast("long").alias("cp"),
            F.sum(1 - F.col("__pos")).cast("long").alias("cn"),
        )
        .select(F.col("win.start").alias("bucket_ts"), "bucket", "cp", "cn")
    )
