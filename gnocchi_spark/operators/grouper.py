"""History-aware group-by: time-weighted grouping over resource revisions.

Reference: the ``Grouper`` of the aggregates API
(gnocchi/rest/aggregates/api.py:262-493).  With ``use_history=true`` a
resource contributes to the group defined by its *revision's* attribute
values only during ``[revision_start, revision_end) ∩ [start, stop)``;
each aggregated bucket is weighted by
``usage_coefficient = overlap(bucket, search window) / granularity``
(api.py:244-259), and same-timestamp values of a group are summed
(api.py:231-241).  The first revision of each resource has its window
opened to the query start (api.py:355-366 truncate_resource_time_window
with is_first=True).

Spark shape: revisions are few per resource, so this is an ordinary
equi-join on resource_id with the interval condition as a join filter —
the shuffle keys on resource_id and Catalyst can broadcast the revision
side when small.  No driver-side loops: one plan computes every group.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gnocchi_spark.functions.timeutil import granularity_label


def prepare_revisions(
    revisions: DataFrame,
    start=None,
    stop=None,
    resource_col: str = "resource_id",
    rev_start_col: str = "revision_start",
    rev_end_col: str = "revision_end",
) -> DataFrame:
    """Compute per-revision search windows (api.py:355-377).

    - first revision of a resource: search_start = query start (possibly
      NULL = unbounded);
    - later revisions: max(revision_start, query start);
    - search_end = min(revision_end, query end), NULLs propagating as
      'unbounded'.
    """
    w = Window.partitionBy(resource_col).orderBy(F.col(rev_start_col).asc_nulls_first())
    rn = F.row_number().over(w)
    start_lit = F.lit(start).cast("timestamp") if start is not None else F.lit(None).cast("timestamp")
    stop_lit = F.lit(stop).cast("timestamp") if stop is not None else F.lit(None).cast("timestamp")
    search_start = F.when(rn == 1, start_lit).otherwise(
        F.when(start_lit.isNull(), F.col(rev_start_col)).otherwise(
            F.greatest(F.col(rev_start_col), start_lit)
        )
    )
    search_end = (
        F.when(F.col(rev_end_col).isNull(), stop_lit)
        .when(stop_lit.isNull(), F.col(rev_end_col))
        .otherwise(F.least(F.col(rev_end_col), stop_lit))
    )
    # one projection: each DataFrame transformation is a driver-side
    # analysis pass
    return revisions.withColumns({"search_start": search_start, "search_end": search_end})


def history_grouped_aggregate(
    bucketed: DataFrame,
    revisions: DataFrame,
    group_attrs: Sequence[str],
    granularity_s: float,
    start=None,
    stop=None,
    resource_col: str = "resource_id",
) -> DataFrame:
    """Time-weighted history group-by.

    ``bucketed``: per-resource aggregated series
    (resource_id, bucket_ts, value) at ``granularity_s``.
    ``revisions``: (resource_id, revision_start, revision_end, *attrs).

    Returns (*group_attrs, bucket_ts, granularity, value) with
    ``value = sum(bucket_value * usage_coefficient)`` per group/bucket.
    """
    g_us = int(round(granularity_s * 1_000_000))
    if start is not None and stop is not None:
        # create_history_period_filter (api.py:278-299, applied ONLY
        # when both bounds are set): only revisions overlapping
        # [start, stop) are retrieved, and — crucially — is_first is
        # decided AFTER this filter (group(), api.py:325-343), so a
        # resource whose earliest revision ended before the window
        # opens its SECOND revision to the query start.  Found by the
        # r12 differential fuzz; without this the rank-1 revision could
        # be one the reference never retrieves.
        revisions = revisions.where(
            (F.col("revision_start") < F.lit(stop).cast("timestamp"))
            & (
                F.col("revision_end").isNull()
                | (F.col("revision_end") >= F.lit(start).cast("timestamp"))
            )
        )
    revs = prepare_revisions(revisions, start, stop, resource_col)

    b = bucketed.alias("b")
    r = revs.alias("r")
    bucket_end = F.col("b.bucket_ts") + F.expr(f"INTERVAL {g_us} MICROSECONDS")
    # interval overlap as a join filter on top of the resource equi-join
    cond = (F.col(f"b.{resource_col}") == F.col(f"r.{resource_col}"))
    cond &= F.col("r.search_end").isNull() | (F.col("b.bucket_ts") < F.col("r.search_end"))
    cond &= F.col("r.search_start").isNull() | (bucket_end > F.col("r.search_start"))

    joined = b.join(r, cond, "inner")

    us = lambda c: F.unix_micros(c)
    expected_beg = F.when(
        F.col("r.search_start").isNull(), us(F.col("b.bucket_ts"))
    ).otherwise(F.greatest(us(F.col("r.search_start")), us(F.col("b.bucket_ts"))))
    expected_end = F.when(F.col("r.search_end").isNull(), us(bucket_end)).otherwise(
        F.least(us(F.col("r.search_end")), us(bucket_end))
    )
    coefficient = (expected_end - expected_beg).cast("double") / F.lit(float(g_us))

    return (
        joined.groupBy(*[F.col(f"r.{a}").alias(a) for a in group_attrs], F.col("b.bucket_ts").alias("bucket_ts"))
        .agg(F.sum(F.col("b.value") * coefficient).alias("value"))
        .select(
            *group_attrs,
            "bucket_ts",
            F.lit(granularity_label(granularity_s)).alias("granularity"),
            "value",
        )
    )
