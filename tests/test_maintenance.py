"""Maintenance/janitor + calendar + policy-rule tests (SURVEY §2.2,
§2.10, calendar.py, archive-policy rules)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from gnocchi_spark.functions import calendar as cal
from gnocchi_spark.operators import maintenance as mx
from gnocchi_spark.policy import (
    ArchivePolicy,
    ArchivePolicyItem,
    ArchivePolicyRule,
    assign_policy,
    rule_order,
)


def _ts(day, hour=0):
    return datetime.datetime(2026, 1, day, hour)


def test_retention_filter_per_metric_horizon(spark):
    policy = ArchivePolicy(
        "p", 0,
        (ArchivePolicyItem(3600.0, timespan_s=2 * 86400.0),
         ArchivePolicyItem(86400.0, timespan_s=5 * 86400.0)),
    )
    rows = [
        # m1 hourly: newest Jan 10 -> keep buckets > Jan 8
        ("m1", 3600.0, _ts(10), 1.0),
        ("m1", 3600.0, _ts(9), 1.0),
        ("m1", 3600.0, _ts(8), 1.0),      # == horizon, dropped (strict >)
        ("m1", 3600.0, _ts(5), 1.0),
        # m2 hourly: newest Jan 5 -> its own horizon Jan 3 (per-metric)
        ("m2", 3600.0, _ts(5), 1.0),
        ("m2", 3600.0, _ts(4), 1.0),
        ("m2", 3600.0, _ts(2), 1.0),
        # m1 daily: 5-day timespan keeps Jan 6..10
        ("m1", 86400.0, _ts(10), 1.0),
        ("m1", 86400.0, _ts(6), 1.0),
        ("m1", 86400.0, _ts(4), 1.0),
    ]
    df = spark.createDataFrame(rows, ["metric_id", "granularity", "bucket_ts", "value"])
    kept = {
        (r["metric_id"], r["granularity"], r["bucket_ts"].day)
        for r in mx.retention_filter(df, policy).collect()
    }
    assert kept == {
        ("m1", 3600.0, 10), ("m1", 3600.0, 9),
        ("m2", 3600.0, 5), ("m2", 3600.0, 4),
        ("m1", 86400.0, 10), ("m1", 86400.0, 6),
    }


def test_expunge_deleted_metrics(spark):
    data = spark.createDataFrame(
        [("m1", 1.0), ("m2", 2.0), ("m3", 3.0)], ["metric_id", "value"]
    )
    metrics = spark.createDataFrame(
        [("m1", "active"), ("m2", "delete"), ("m3", "delete")],
        ["metric_id", "status"],
    )
    got = [r["metric_id"] for r in mx.expunge_deleted_metrics(data, metrics).collect()]
    assert got == ["m1"]


def test_resources_to_end_all_metrics_inactive(spark):
    now = datetime.datetime(2026, 1, 10)
    metrics = spark.createDataFrame(
        [
            ("r1", "m1", _ts(1)),   # inactive
            ("r1", "m2", _ts(2)),   # inactive -> r1 ends
            ("r2", "m3", _ts(1)),   # inactive
            ("r2", "m4", _ts(9, 12)),  # active -> r2 survives
            (None, "m5", _ts(1)),   # no resource: ignored (chef.py:147-152)
        ],
        ["resource_id", "metric_id", "last_measure_timestamp"],
    )
    out = mx.resources_to_end(metrics, inactive_after_seconds=86400.0, now=now)
    rows = out.collect()
    assert [(r["resource_id"], r["ended_at"]) for r in rows] == [("r1", now)]


def test_backlog_report_partitions_by_sack(spark):
    df = spark.createDataFrame(
        [(f"m{i}", float(i)) for i in range(100)], ["metric_id", "value"]
    )
    rep = mx.backlog_report(df, num_sacks=8).collect()
    assert sum(r["n_measures"] for r in rep) == 100
    assert sum(r["n_metrics"] for r in rep) == 100
    assert all(0 <= r["sack"] < 8 for r in rep)


# ---------------------------------------------------------------------------
# calendar
# ---------------------------------------------------------------------------

def test_calendar_truncations_and_extracts(spark):
    # 2024-07-07 was a Sunday; 2024-02-29 leap day
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 7, 10, 15, 30),),   # Wednesday
         (datetime.datetime(2024, 2, 29, 0, 0),),
         (datetime.datetime(2024, 1, 1, 0, 0),)],
        ["ts"],
    )
    out = df.select(
        cal.truncate_calendar(F.col("ts"), "Y").alias("y"),
        cal.truncate_calendar(F.col("ts"), "H").alias("h"),
        cal.truncate_calendar(F.col("ts"), "Q").alias("q"),
        cal.truncate_calendar(F.col("ts"), "M").alias("m"),
        cal.truncate_calendar(F.col("ts"), "W").alias("w"),
        cal.day_of_week(F.col("ts")).alias("dow"),
        cal.day_of_year(F.col("ts")).alias("doy"),
        cal.half_of_year(F.col("ts")).alias("half"),
        cal.quarter_of_year(F.col("ts")).alias("qoy"),
    ).collect()
    july = out[0]
    assert july["y"] == datetime.datetime(2024, 1, 1)
    assert july["h"] == datetime.datetime(2024, 7, 1)
    assert july["q"] == datetime.datetime(2024, 7, 1)
    assert july["m"] == datetime.datetime(2024, 7, 1)
    # Sunday-start week containing Wed Jul 10 starts Sun Jul 7
    assert july["w"] == datetime.datetime(2024, 7, 7)
    assert july["dow"] == 3 and july["half"] == 2 and july["qoy"] == 3
    leap = out[1]
    assert leap["h"] == datetime.datetime(2024, 1, 1)
    assert leap["doy"] == 59  # 0-based like the reference
    jan1 = out[2]
    assert jan1["dow"] == 1  # 2024-01-01 was a Monday
    assert jan1["w"] == datetime.datetime(2023, 12, 31)


# ---------------------------------------------------------------------------
# archive-policy rules
# ---------------------------------------------------------------------------

def test_rule_order_matches_reference():
    rules = [
        ArchivePolicyRule("b", "disk.*", "low"),
        ArchivePolicyRule("a", "*", "fallback"),
        ArchivePolicyRule("c", "disk.io.*", "high"),
    ]
    assert [r.name for r in rule_order(rules)] == ["c", "b", "a"]


def test_assign_policy_first_match(spark):
    rules = [
        ArchivePolicyRule("catchall", "*", "low"),
        ArchivePolicyRule("disk", "disk.*", "medium"),
        ArchivePolicyRule("diskio", "disk.io.*", "high"),
    ]
    df = spark.createDataFrame(
        [("disk.io.read",), ("disk.usage",), ("cpu.idle",)], ["name"]
    )
    got = {
        r["name"]: r["p"]
        for r in df.select(
            "name", assign_policy(F.col("name"), rules).alias("p")
        ).collect()
    }
    assert got == {
        "disk.io.read": "high",
        "disk.usage": "medium",
        "cpu.idle": "low",
    }


def test_parse_timestamp_forms():
    import datetime

    from gnocchi_spark.functions.timeutil import parse_timestamp

    now = datetime.datetime(2026, 1, 10, 12, 0, tzinfo=datetime.timezone.utc)
    assert parse_timestamp("2024-01-05T10:00:00") == datetime.datetime(2024, 1, 5, 10)
    assert parse_timestamp("2024-01-05T10:00:00+02:00") == datetime.datetime(
        2024, 1, 5, 8
    )
    assert parse_timestamp(0) == datetime.datetime(1970, 1, 1)
    assert parse_timestamp("-10 seconds", now=now) == datetime.datetime(
        2026, 1, 10, 11, 59, 50
    )
    assert parse_timestamp("+1h", now=now) == datetime.datetime(2026, 1, 10, 13)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_timestamp("next tuesday")


def test_lateness_profile_counts_inversions(spark):
    import datetime

    from gnocchi_spark.operators.maintenance import lateness_profile

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def t(s):
        return t0 + datetime.timedelta(seconds=s)

    # arrival order (seq): m1 in-order; m2 has one point 600 s late
    rows = [
        ("m1", t(0), 1.0, 1), ("m1", t(60), 1.0, 2), ("m1", t(120), 1.0, 3),
        ("m2", t(0), 1.0, 1), ("m2", t(700), 1.0, 2), ("m2", t(100), 1.0, 3),
    ]
    df = spark.createDataFrame(
        rows, "metric_id string, ts timestamp, value double, seq long"
    )
    out = {r["metric_id"]: r for r in lateness_profile(df, granularity_s=300.0).collect()}
    assert out["m1"]["n_late"] == 0
    assert out["m1"]["suggested_back_window"] == 0
    assert out["m2"]["n_late"] == 1
    assert out["m2"]["max_late_s"] == 600.0
    assert out["m2"]["suggested_back_window"] == 2  # ceil(600/300)
