"""Read path: single-metric aggregate reads over the rollup table.

Mirrors ``GET /v1/metric/<id>/measures`` (gnocchi/rest/api.py:496-559 and
gnocchi/storage/__init__.py:283-338): filter to (metric, method,
granularity), prune to [start, stop), optionally resample to a coarser
granularity with the same method, return time-sorted rows.

All pruning here is Catalyst predicate/partition pruning: the equality
and range filters push down to the Parquet scan of the rollup table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnocchi_spark.functions.aggregates import agg_expr
from gnocchi_spark.functions.timeutil import granularity_label, truncate_to_bucket
from gnocchi_spark.policy import parse_method


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
    """
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
    if resample is not None:
        df = resample_rollup(df, method, resample)
    df = df.select("bucket_ts", "granularity", "value")
    return df.repartition(1).sortWithinPartitions("bucket_ts")


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
