"""Read path: single-metric aggregate reads over the rollup table.

Mirrors ``GET /v1/metric/<id>/measures`` (gnocchi/rest/api.py:496-559 and
gnocchi/storage/__init__.py:283-338): filter to (metric, method,
granularity), prune to [start, stop), optionally resample to a coarser
granularity with the same method, return time-sorted rows.

On the Spark plan all pruning is Catalyst predicate/partition pruning:
the equality and range filters push down to the Parquet scan of the
rollup table.  A bare SnapshotStore read of a small store is instead
served on the driver over Arrow (see get_measures), the way the
reference serves a read inside one API process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType, TimestampType

from gnocchi_spark.functions.aggregates import agg_expr
from gnocchi_spark.functions.timeutil import (
    granularity_label,
    granularity_seconds,
    truncate_to_bucket,
    window_us,
)
from gnocchi_spark.operators.store import SnapshotFrame
from gnocchi_spark.policy import parse_method

# column types under which the local tier's filters compare exactly as
# Spark's do (a non-string granularity column would make Spark cast)
_LOCAL_KEY_TYPES = {
    "metric_id": StringType(),
    "method": StringType(),
    "granularity": StringType(),
    "bucket_ts": TimestampType(),
}
# the columns get_measures returns; resample_rollup also needs metric_id
_SERIES_COLUMNS = ("bucket_ts", "granularity", "value")


def get_measures(
    rollups: DataFrame,
    metric_id: str,
    method: str,
    granularity: float | str,
    start=None,
    stop=None,
    resample: float | str | None = None,
) -> DataFrame:
    """Return (bucket_ts, granularity, value) for one metric/method.

    ``start`` is rounded *down* to the (output) granularity like the
    reference's from-rounding (gnocchi/carbonara.py:817-822): a bucket
    containing ``start`` is included whole.  ``stop`` is exclusive.

    ``resample`` re-aggregates the already-aggregated series to a coarser
    granularity using the same method (carbonara.py:594-598 — note this
    is e.g. a mean of means, by design).

    The result is sorted inside one partition rather than by a global
    ``orderBy``, which would first run a range-sampling job.  That is
    safe because one (metric, method, granularity) series holds at most
    its archive policy's points (archive_policy.py:183-263), so a single
    task sorts it; the matching rows may come from any number of files
    and partitions.

    Driver-local tier: when ``rollups`` is the bare frame
    SnapshotStore.read returned (a SnapshotFrame, pinned to one
    manifest), the series is read on the driver with pyarrow instead.
    The equality filters, the floored start and the exclusive stop are
    applied in the Arrow scan, the rows are sorted by ``bucket_ts``
    there, and Spark receives a local relation; without ``resample``
    that result holds just the three returned columns, is already in
    ``bucket_ts`` order and collects with no Spark job.  With
    ``resample`` the same resample_rollup runs over the local relation.
    The tier is taken only when all of these hold:

    - the manifest records its schema, with string ``metric_id``,
      ``method`` and ``granularity`` and a timestamp ``bucket_ts``;
    - the pinned files total at most store.LOCAL_READ_MAX_BYTES;
    - ``granularity`` and ``resample`` are numeric (not calendar);
    - ``metric_id`` and ``method`` are strings, and each bound is one
      whose Spark cast timeutil.window_us reproduces exactly: None, an
      ISO string (``YYYY-MM-DD``, optionally with ``[T ]HH:MM:SS``, up
      to six fractional digits and a trailing ``Z``; without ``Z`` the
      session time zone must be UTC) or a time-zone-aware datetime from
      1900 on.  A naive datetime's cast depends on the process time
      zone.

    Every other input (an unpinned or transformed frame, a calendar
    granularity, an over-cap store, a manifest without a schema) keeps
    the Spark plan.  Both tiers return the same rows in the same order.
    """
    df = _local_series(rollups, metric_id, method, granularity, start, stop, resample)
    if df is None:
        df = rollups.where(
            (F.col("metric_id") == metric_id)
            & (F.col("method") == method)
            & (F.col("granularity") == granularity_label(granularity))
        )
        if start is not None:
            df = df.where(
                F.col("bucket_ts")
                >= truncate_to_bucket(F.lit(start).cast("timestamp"), resample or granularity)
            )
        if stop is not None:
            df = df.where(F.col("bucket_ts") < F.lit(stop).cast("timestamp"))
    elif resample is None:  # filtered, projected and sorted in Arrow
        return df
    if resample is not None:
        df = resample_rollup(df, method, resample)
    df = df.select("bucket_ts", "granularity", "value")
    return df.repartition(1).sortWithinPartitions("bucket_ts")


def _local_series(rollups, metric_id, method, granularity, start, stop, resample):
    """The filtered, ``bucket_ts``-sorted series as a local relation with
    columns _SERIES_COLUMNS (plus a leading ``metric_id`` for
    resample_rollup when ``resample`` is set), or None when get_measures
    must keep the Spark plan (see its docstring for the rules)."""
    if not (
        isinstance(rollups, SnapshotFrame)
        and isinstance(metric_id, str)
        and isinstance(method, str)
        and granularity_seconds(granularity) is not None
        and granularity_seconds(resample or granularity) is not None
    ):
        return None
    schema = rollups.manifest.struct()
    if schema is None:
        return None
    types = {f.name: f.dataType for f in schema.fields}
    if "value" not in types or any(types.get(c) != t for c, t in _LOCAL_KEY_TYPES.items()):
        return None
    spark = rollups.sparkSession
    window = window_us(spark, start, stop, resample or granularity)
    if window is None:
        return None
    import pyarrow as pa

    ts_type = pa.timestamp("us", tz="UTC")
    filters = [
        ("metric_id", "==", metric_id),
        ("method", "==", method),
        ("granularity", "==", granularity_label(granularity)),
    ]
    lo, hi = window
    if lo is not None:
        filters.append(("bucket_ts", ">=", pa.scalar(lo, ts_type)))
    if hi is not None:
        filters.append(("bucket_ts", "<", pa.scalar(hi, ts_type)))
    # without resample no select runs over the result: each DataFrame
    # transformation costs a driver-side analysis
    columns = _SERIES_COLUMNS if resample is None else ("metric_id", *_SERIES_COLUMNS)
    table = rollups.store.read_local(rollups.manifest, columns, filters)
    if table is None:
        return None
    return spark.createDataFrame(
        table.sort_by("bucket_ts"), StructType([schema[c] for c in columns])
    )


def granularity_intersection(
    policies_by_metric, requested: float | None = None
) -> list[float]:
    """Plan-level granularity pruning (processor.py:89-132, also
    rest/api.py:2040-2058): cross-metric operations may only evaluate at
    granularities *every* referenced metric materializes.

    With ``requested`` set, every metric's policy must contain it;
    otherwise the intersection of all policies is returned coarse-first
    (the evaluation order of processor.aggregated, :165).  Raises
    ValueError (the engine's UnAggregableTimeseries) when empty — a
    metadata-only check that runs before any scan is planned.
    """
    sets = [
        {float(item.granularity_s) for item in p.definition}
        for p in policies_by_metric.values()
    ]
    if not sets:
        return []
    if requested is not None:
        missing = [
            m
            for m, p in policies_by_metric.items()
            if float(requested) not in {float(i.granularity_s) for i in p.definition}
        ]
        if missing:
            raise ValueError(
                f"granularity {requested} not materialized for metrics {missing!r}"
            )
        return [float(requested)]
    common = set.intersection(*sets)
    if not common:
        raise ValueError("metrics share no common granularity")
    return sorted(common, reverse=True)


def resample_rollup(
    rollup_series: DataFrame,
    method: str,
    granularity: float | str,
    exact: bool = False,
) -> DataFrame:
    """Re-bucket an aggregated series to a coarser granularity, applying
    the same aggregation method over the aggregated points
    (gnocchi/carbonara.py:594-598).  ``sum``/``count`` sum, ``mean`` takes
    the mean of means, etc. — intentionally identical to the reference.

    ``exact=True`` quantizes the already-aggregated points at 1e-6 and
    sums in decimal (see functions.aggregates.agg_expr) so the
    re-aggregation is order-independent — replay-exact mode for the
    oracle-parity surface.
    """
    base, rate_base, _ = parse_method(method)
    m = rate_base if base == "rate" else method
    bucket = truncate_to_bucket(F.col("bucket_ts"), granularity).alias("bucket_ts")
    if m == "count":
        # counts re-aggregate by summation (a count of points per coarse
        # bucket would be wrong — the series already holds counts).
        agg = F.sum("value")
    else:
        agg = agg_expr(m, value="value", ts="bucket_ts", exact=exact)
    return (
        rollup_series.groupBy("metric_id", bucket)
        .agg(agg.cast("double").alias("value"))
        .select(
            "metric_id",
            "bucket_ts",
            F.lit(granularity_label(granularity)).alias("granularity"),
            "value",
        )
    )
