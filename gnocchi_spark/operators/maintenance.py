"""Maintenance / janitor operators (SURVEY.md §2.2, §2.10).

The reference runs these as metricd daemon duties; here each is a
declarative DataFrame job a scheduler fires:

- retention truncation (storage/__init__.py:517-527;
  AggregatedTimeSerie.truncate carbonara.py:618-638)
- metric expunge for status='delete' (chef.py:297-345)
- resource end-of-life when every metric is inactive (chef.py:103-184)
- ingestion backlog report (incoming/__init__.py:202-218)

Rollup compaction is ``SnapshotStore.compact()`` followed by
``vacuum()`` (operators/store.py).

Scale notes: retention is one metric-keyed window max feeding a
filter.  Expunge is an anti-join against a tiny broadcast list.
Inactivity is one aggregation over the metrics dimension — no
fact-table scan at all.
"""

from __future__ import annotations

import datetime
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gnocchi_spark.functions.timeutil import granularity_seconds
from gnocchi_spark.policy import ArchivePolicy


def retention_filter(
    rollups: DataFrame,
    policy: ArchivePolicy,
    granularity_col: str = "granularity",
    bucket_col: str = "bucket_ts",
    metric_col: str = "metric_id",
) -> DataFrame:
    """Keep only buckets within each granularity's timespan, measured
    from the newest bucket *per (metric, granularity)*.

    Mirrors truncate(): ``oldest_point = last - timespan``, keeping
    points strictly newer than it (carbonara.py:618-638 keeps the
    searchsorted-right tail, i.e. ts > oldest_point).  Expressed as a
    max-window over the metric's own series, exactly like the
    reference's per-series ``self.last`` — not wall-clock — so replayed
    historical data truncates identically.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(metric_col, granularity_col)
    with_max = rollups.withColumn("__newest", F.max(bucket_col).over(w))
    conds = []
    for item in policy.definition:
        secs = float(granularity_seconds(item.granularity_s))
        if item.timespan_s is None:
            conds.append(F.col(granularity_col) == secs)
            continue
        horizon = F.col("__newest") - F.expr(f"INTERVAL {int(item.timespan_s)} SECONDS")
        conds.append((F.col(granularity_col) == secs) & (F.col(bucket_col) > horizon))
    keep = conds[0]
    for c in conds[1:]:
        keep = keep | c
    return with_max.where(keep).drop("__newest")


def expunge_deleted_metrics(
    data: DataFrame,
    metrics: DataFrame,
    metric_col: str = "metric_id",
    status_col: str = "status",
) -> DataFrame:
    """Drop all rows belonging to metrics marked status='delete'
    (chef.py:297-345 expunges storage + index row; on a table engine
    this is one anti-join feeding an overwrite / DELETE WHERE).

    The delete list is broadcast: it is bounded by the metric
    dimension, never by data volume.
    """
    doomed = metrics.where(F.col(status_col) == "delete").select(
        F.col(metric_col).alias("__doomed_id")
    )
    return data.join(
        F.broadcast(doomed),
        data[metric_col] == F.col("__doomed_id"),
        "left_anti",
    )


def resources_to_end(
    metrics: DataFrame,
    inactive_after_seconds: float,
    now: datetime.datetime,
    resource_col: str = "resource_id",
    last_ts_col: str = "last_measure_timestamp",
) -> DataFrame:
    """Resources whose metrics are ALL inactive -> candidate ended_at.

    The reference loops resources in Python (chef.py:103-184); the
    relational form is the aggregation-based anti-join from SURVEY
    §2.7: group metrics by resource, a resource ends when its newest
    last_measure_timestamp is older than the threshold.  Returns
    (resource_id, ended_at=now).
    """
    moment = now - datetime.timedelta(seconds=inactive_after_seconds)
    return (
        metrics.where(F.col(resource_col).isNotNull())
        .groupBy(F.col(resource_col).alias("resource_id"))
        .agg(F.max(last_ts_col).alias("__newest"))
        .where(F.col("__newest") < F.lit(moment))
        .select("resource_id", F.lit(now).alias("ended_at"))
    )


def backlog_report(
    pending_measures: DataFrame,
    num_sacks: int = 128,
    metric_col: str = "metric_id",
) -> DataFrame:
    """Pending-measure counts per sack (incoming/__init__.py:202-218;
    sack = hash(metric) % num_sacks, incoming/__init__.py:243-247).

    Sacks exist in Spark only as a reporting coordinate — shuffle
    partitioning replaces them for execution.  Any uniform hash serves;
    an md5-prefix is used so the assignment reproduces in SQL engines.
    """
    sack = F.pmod(
        F.conv(F.substring(F.md5(F.col(metric_col).cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(num_sacks),
    )
    return (
        pending_measures.groupBy(sack.alias("sack"))
        .agg(
            F.count("*").cast("long").alias("n_measures"),
            F.countDistinct(metric_col).cast("long").alias("n_metrics"),
        )
    )


def lateness_profile(
    measures: DataFrame,
    granularity_s: float = 300.0,
    metric_col: str = "metric_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Per-metric out-of-order arrival profile: how late points arrive
    relative to the running event-time high-water mark, in ARRIVAL
    order (``seq_col``).

    This is the observability the reference's ``back_window`` knob
    needs but never gets from gnocchi itself: the archive policy's
    back_window (reference carbonara.py:321-373 — points older than the
    first block timestamp are silently dropped) must be sized from the
    stream's real lateness distribution.  ``suggested_back_window`` is
    the smallest whole number of ``granularity_s`` blocks that would
    have admitted every observed point (0 for in-order streams).

    Scale shape: one metric-keyed running-max window (same exchange
    every rollup already does) feeding one aggregation; no global
    window, no second shuffle (the window and groupBy share the metric
    partitioning).
    """
    w = (
        Window.partitionBy(metric_col)
        .orderBy(F.col(seq_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = F.max(F.col("ts")).over(w)
    late_s = F.when(
        F.col("__hwm").isNotNull() & (F.col("ts") < F.col("__hwm")),
        (F.unix_micros(F.col("__hwm")) - F.unix_micros(F.col("ts"))) / 1e6,
    ).otherwise(0.0)
    return (
        measures.withColumn("__hwm", hwm)
        .withColumn("__late_s", late_s)
        .groupBy(F.col(metric_col).alias("metric_id"))
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum((F.col("__late_s") > 0).cast("long")).alias("n_late"),
            F.round(F.max("__late_s"), 6).alias("max_late_s"),
            # order-free mean: lateness is a whole-microsecond value
            # (<= 6 fractional digits), so the 1e-6 floor quantization
            # is exact per row and the LONG sum is associative —
            # replay-identical across partitionings and engines; the
            # floor-form rounding cannot split on exact ties the way
            # native round() does
            (
                F.floor(
                    F.sum(F.floor(F.col("__late_s") * F.lit(1e6) + F.lit(0.5)))
                    .cast("double")
                    / F.lit(1e6)
                    / F.count("__late_s")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("mean_late_s"),
            F.ceil(F.max("__late_s") / F.lit(float(granularity_s)))
            .cast("long")
            .alias("suggested_back_window"),
        )
    )
