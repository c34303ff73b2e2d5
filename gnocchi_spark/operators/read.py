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

import datetime
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType, TimestampType

from gnocchi_spark.functions.aggregates import agg_expr
from gnocchi_spark.functions.timeutil import (
    granularity_label,
    granularity_seconds,
    truncate_to_bucket,
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
_LOCAL_COLUMNS = ("metric_id", "bucket_ts", "granularity", "value")
# the ISO forms whose cast to timestamp is reproduced below; a trailing
# Z pins UTC, without it the session time zone must be UTC
_ISO = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})(?:[T ](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?(Z)?)?"
)
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_US = datetime.timedelta(microseconds=1)


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
    that result is already in ``bucket_ts`` order and collects with no
    Spark job.  With ``resample`` the same resample_rollup runs over the
    local relation.  The tier is taken only when all of these hold:

    - the manifest records its schema, with string ``metric_id``,
      ``method`` and ``granularity`` and a timestamp ``bucket_ts``;
    - the pinned files total at most store.LOCAL_READ_MAX_BYTES;
    - ``granularity`` and ``resample`` are numeric (not calendar);
    - ``metric_id`` and ``method`` are strings, and each bound is None,
      an ISO string (``YYYY-MM-DD``, optionally with ``[T ]HH:MM:SS``,
      up to six fractional digits and a trailing ``Z``; without ``Z``
      the session time zone must be UTC) or a time-zone-aware datetime
      from 1900 on.  Those are the bounds whose Spark cast it
      reproduces exactly; a naive datetime's cast depends on the
      process time zone.

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
    elif resample is None:  # filtered and sorted in the Arrow scan
        return df.select("bucket_ts", "granularity", "value")
    if resample is not None:
        df = resample_rollup(df, method, resample)
    df = df.select("bucket_ts", "granularity", "value")
    return df.repartition(1).sortWithinPartitions("bucket_ts")


def _bound_us(spark, v) -> int | None:
    """``v`` as epoch microseconds exactly as ``F.lit(v).cast("timestamp")``
    reads it, or None for a bound whose cast is not reproduced here."""
    if isinstance(v, datetime.datetime):
        # PySpark sends an aware datetime as its UTC instant
        if v.tzinfo is None or v.utcoffset() is None or v.year < 1900:
            return None
        return (v - _EPOCH) // _US
    if not isinstance(v, str):
        return None
    m = _ISO.fullmatch(v)
    if m is None:
        return None
    if not m.group(8) and spark.conf.get("spark.sql.session.timeZone") not in ("UTC", "Etc/UTC"):
        return None
    y, mo, d, h, mi, s = (int(g or 0) for g in m.groups()[:6])
    try:
        ts = datetime.datetime(y, mo, d, h, mi, s, tzinfo=datetime.timezone.utc)
    except ValueError:  # Spark casts an impossible date to NULL
        return None
    return (ts - _EPOCH) // _US + int((m.group(7) or "").ljust(6, "0"))


def _local_series(rollups, metric_id, method, granularity, start, stop, resample):
    """The filtered, ``bucket_ts``-sorted series as a local relation with
    columns _LOCAL_COLUMNS, or None when get_measures must keep the
    Spark plan (see its docstring for the rules)."""
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
    import pyarrow as pa

    spark = rollups.sparkSession
    ts_type = pa.timestamp("us", tz="UTC")
    filters = [
        ("metric_id", "==", metric_id),
        ("method", "==", method),
        ("granularity", "==", granularity_label(granularity)),
    ]
    if start is not None:
        lo = _bound_us(spark, start)
        step = int(round(float(resample or granularity) * 1_000_000))
        if lo is None or step <= 0:
            return None
        # Spark's floor: us - us % step, with a remainder that takes the
        # sign of us (so pre-1970 bounds round toward zero, as there)
        rem = abs(lo) % step
        filters.append(("bucket_ts", ">=", pa.scalar(lo - (rem if lo >= 0 else -rem), ts_type)))
    if stop is not None:
        hi = _bound_us(spark, stop)
        if hi is None:
            return None
        filters.append(("bucket_ts", "<", pa.scalar(hi, ts_type)))
    table = rollups.store.read_local(rollups.manifest, _LOCAL_COLUMNS, filters)
    if table is None:
        return None
    return spark.createDataFrame(
        table.sort_by("bucket_ts"), StructType([schema[c] for c in _LOCAL_COLUMNS])
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
