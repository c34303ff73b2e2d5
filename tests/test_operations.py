"""Operations-DSL + alignment golden tests.

Ported from the reference DSL spec: gnocchi/tests/test_aggregates.py
(fill/overlap matrix :495-744, rolling :1427-1470, binary ops
:1471-1612, max :1743-1786, rateofchangesec :1787-1814).
"""

import datetime as dt

import pytest
from pyspark.sql import Row

from gnocchi_spark.operators.align import UnAggregableTimeseries, align_series
from gnocchi_spark.operators.rollup import rollup
from gnocchi_spark.plans.operations import SeriesFrame, evaluate, evaluate_to_long


def _ts(*args):
    return dt.datetime(*args)


def _series(spark, pts):
    return spark.createDataFrame([Row(ts=t, value=float(v)) for t, v in pts])


def _mean_series(spark, pts, granularity):
    """Measures -> per-metric mean rollup series (ts, value)."""
    df = spark.createDataFrame(
        [Row(metric_id="x", ts=t, value=float(v)) for t, v in pts]
    )
    return (
        rollup(df, ["mean"], granularity)
        .select(df.ts.alias if False else "bucket_ts", "value")
        .withColumnRenamed("bucket_ts", "ts")
    )


FOO = [  # test_aggregates.py:503-510 at 60 s mean
    (_ts(2014, 1, 1, 12, 3, 0), 9),
    (_ts(2014, 1, 1, 12, 4, 0), 1),
    (_ts(2014, 1, 1, 12, 5, 0), 2),
    (_ts(2014, 1, 1, 12, 6, 0), 7),
    (_ts(2014, 1, 1, 12, 7, 0), 5),
    (_ts(2014, 1, 1, 12, 8, 0), 3),
]
BAR = [  # test_aggregates.py:514-521
    (_ts(2014, 1, 1, 12, 0, 0), 6),
    (_ts(2014, 1, 1, 12, 1, 0), 2),
    (_ts(2014, 1, 1, 12, 2, 0), 13),
    (_ts(2014, 1, 1, 12, 3, 0), 24),
    (_ts(2014, 1, 1, 12, 4, 0), 4),
    (_ts(2014, 1, 1, 12, 5, 0), 16),
    (_ts(2014, 1, 1, 12, 6, 0), 12),
]


def _aligned(spark, fill=None, needed_overlap=100.0):
    return align_series(
        {"foo/mean": _series(spark, FOO), "bar/mean": _series(spark, BAR)},
        fill=fill,
        needed_overlap=needed_overlap,
    )


def _run(spark, ast, fill=None, needed_overlap=100.0):
    wide = _aligned(spark, fill, needed_overlap)
    frame = SeriesFrame(df=wide, cols=["foo/mean", "bar/mean"])
    out = evaluate_to_long(ast, frame, 60.0, fill=fill)
    return out


def test_aggregate_mean_fill_zero(spark):
    # test_aggregated_some_overlap_with_fill_zero (:495-556)
    out = _run(
        spark,
        ["aggregate", "mean", ["metric", ["foo", "mean"], ["bar", "mean"]]],
        fill=0,
    )
    rows = {r["ts"]: r["value"] for r in out.collect()}
    assert rows == {
        _ts(2014, 1, 1, 12, 0, 0): 3.0,
        _ts(2014, 1, 1, 12, 1, 0): 1.0,
        _ts(2014, 1, 1, 12, 2, 0): 6.5,
        _ts(2014, 1, 1, 12, 3, 0): 16.5,
        _ts(2014, 1, 1, 12, 4, 0): 2.5,
        _ts(2014, 1, 1, 12, 5, 0): 9.0,
        _ts(2014, 1, 1, 12, 6, 0): 9.5,
        _ts(2014, 1, 1, 12, 7, 0): 2.5,
        _ts(2014, 1, 1, 12, 8, 0): 1.5,
    }


def test_binary_minus_fill_zero(spark):
    # second half of test_aggregated_some_overlap_with_fill_zero (:557-582)
    out = _run(spark, ["-", ["metric", "foo", "mean"], ["metric", "bar", "mean"]], fill=0)
    rows = {r["ts"]: r["value"] for r in out.collect()}
    assert rows == {
        _ts(2014, 1, 1, 12, 0, 0): -6.0,
        _ts(2014, 1, 1, 12, 1, 0): -2.0,
        _ts(2014, 1, 1, 12, 2, 0): -13.0,
        _ts(2014, 1, 1, 12, 3, 0): -15.0,
        _ts(2014, 1, 1, 12, 4, 0): -3.0,
        _ts(2014, 1, 1, 12, 5, 0): -14.0,
        _ts(2014, 1, 1, 12, 6, 0): -5.0,
        _ts(2014, 1, 1, 12, 7, 0): 5.0,
        _ts(2014, 1, 1, 12, 8, 0): 3.0,
    }


def test_overlap_trim_and_percentage(spark):
    # fill=None trims unbounded edges to the overlap region
    # (processor.py:206-214): overlap rows are 12:03..12:06.
    wide = _aligned(spark, fill=None, needed_overlap=50.0)
    ts = sorted(r["ts"] for r in wide.select("ts").collect())
    assert ts[0] == _ts(2014, 1, 1, 12, 3, 0)
    assert ts[-1] == _ts(2014, 1, 1, 12, 6, 0)


def test_no_overlap_raises(spark):
    a = _series(spark, [(_ts(2014, 1, 1, 12, 0, 0), 1)])
    b = _series(spark, [(_ts(2014, 1, 1, 13, 0, 0), 2)])
    with pytest.raises(UnAggregableTimeseries):
        align_series({"a/mean": a, "b/mean": b}, fill=None)
    # needed_overlap=0 is allowed (test_aggregates.py:1030-1036)
    out = align_series({"a/mean": a, "b/mean": b}, fill=None, needed_overlap=0)
    assert out.count() == 2


def test_low_overlap_raises_at_call_time(spark):
    # the grid is materialized inside align_series; the verdict must
    # still fire there, before the caller runs any action of its own
    a = _series(spark, [(_ts(2014, 1, 1, 12, m, 0), m) for m in range(4)])
    b = _series(spark, [(_ts(2014, 1, 1, 12, m, 0), m) for m in (0, 3)])
    with pytest.raises(UnAggregableTimeseries, match=r"\(50\.00%\)"):
        align_series({"a/mean": a, "b/mean": b}, fill=None)
    # only unbounded edges trim to the overlap: c overlaps a at 12:01-12:02
    c = _series(spark, [(_ts(2014, 1, 1, 12, m, 0), m) for m in (1, 2)])
    pair = {"a/mean": a, "c/mean": c}
    t0, t4 = _ts(2014, 1, 1, 12, 0, 0), _ts(2014, 1, 1, 12, 4, 0)
    assert align_series(pair, fill=None).count() == 2
    with pytest.raises(UnAggregableTimeseries, match=r"\(66\.67%\)"):
        align_series(pair, fill=None, start=t0)
    with pytest.raises(UnAggregableTimeseries, match=r"\(50\.00%\)"):
        align_series(pair, fill=None, start=t0, stop=t4)
    out = align_series({"a/mean": a, "b/mean": b}, fill=None, needed_overlap=50.0)
    assert [r["ts"].minute for r in out.orderBy("ts").collect()] == [0, 1, 2, 3]


def test_not_equal_with_missing_operand(spark):
    # numpy.not_equal(NaN, x) is True: '!=' must yield 1.0 when either
    # side is missing, while every other comparison yields 0.0
    a = _series(spark, [(_ts(2014, 1, 1, 12, 0, 0), 1), (_ts(2014, 1, 1, 12, 1, 0), 2)])
    b = _series(spark, [(_ts(2014, 1, 1, 12, 0, 0), 1)])  # missing at 12:01
    wide = align_series({"a/mean": a, "b/mean": b}, fill="null")
    frame = SeriesFrame(df=wide, cols=["a/mean", "b/mean"])
    ne = evaluate_to_long(
        ["ne", ["metric", "a", "mean"], ["metric", "b", "mean"]], frame, 60.0
    )
    rows = {r["ts"]: r["value"] for r in ne.collect()}
    assert rows == {_ts(2014, 1, 1, 12, 0, 0): 0.0, _ts(2014, 1, 1, 12, 1, 0): 1.0}
    eq = evaluate_to_long(
        ["eq", ["metric", "a", "mean"], ["metric", "b", "mean"]], frame, 60.0
    )
    rows = {r["ts"]: r["value"] for r in eq.collect()}
    assert rows == {_ts(2014, 1, 1, 12, 0, 0): 1.0, _ts(2014, 1, 1, 12, 1, 0): 0.0}


def test_per_group_overlap_enforcement(spark):
    """Grouped aggregates enforce needed_percent_of_overlap PER GROUP
    (processor.py:200-220 runs once per group in the reference API).
    Group g1 overlaps fully; g2 overlaps on 2 of 3 trimmed rows (66.7%)."""

    def _grouped(pts):
        return spark.createDataFrame(
            [Row(grp=g, ts=t, value=float(v)) for g, t, v in pts]
        )

    t0, t1, t2 = (
        _ts(2014, 1, 1, 12, 0, 0),
        _ts(2014, 1, 1, 12, 1, 0),
        _ts(2014, 1, 1, 12, 2, 0),
    )
    a = _grouped(
        [("g1", t0, 1), ("g1", t1, 2), ("g2", t0, 3), ("g2", t1, 4), ("g2", t2, 5)]
    )
    # g2's gap is INTERIOR (12:01 missing between overlap edges 12:00 and
    # 12:02) so the edge trim can't remove it: 2/3 overlap = 66.7%.
    b = _grouped([("g1", t0, 5), ("g1", t1, 6), ("g2", t0, 7), ("g2", t2, 8)])

    with pytest.raises(UnAggregableTimeseries, match="g2"):
        align_series(
            {"a/mean": a, "b/mean": b},
            fill=None,
            needed_overlap=100.0,
            partition_cols=["grp"],
        ).collect()

    # at 50% every group passes and each group trims to its own overlap
    # region; g2 keeps its interior gap row.
    out = align_series(
        {"a/mean": a, "b/mean": b},
        fill=None,
        needed_overlap=50.0,
        partition_cols=["grp"],
    )
    rows = {(r["grp"], r["ts"]) for r in out.collect()}
    assert rows == {("g1", t0), ("g1", t1), ("g2", t0), ("g2", t1), ("g2", t2)}


def test_grouped_overlap_failure_summary_is_bounded(spark):
    """Multiple failing groups raise ONE summary (count + deterministic
    sample), not a per-group driver materialization (r07: the failure
    report aggregates engine-side and collects a single row)."""

    def _grouped(pts):
        return spark.createDataFrame(
            [Row(grp=g, ts=t, value=float(v)) for g, t, v in pts]
        )

    t0, t1 = _ts(2014, 1, 1, 12, 0, 0), _ts(2014, 1, 1, 12, 1, 0)
    # both groups interleave with NO common timestamp -> both fail
    a = _grouped([("g1", t0, 1), ("g2", t0, 3)])
    b = _grouped([("g1", t1, 5), ("g2", t1, 7)])
    with pytest.raises(UnAggregableTimeseries) as ei:
        align_series(
            {"a/mean": a, "b/mean": b},
            fill=None,
            needed_overlap=100.0,
            partition_cols=["grp"],
        ).collect()
    # lexicographic-min sample (g1) plus the count of the rest
    assert "g1" in str(ei.value)
    assert "+1 more failing groups" in str(ei.value)


def test_rolling_sum_div_scalar(spark):
    # test_rolling (:1427-1470): / (rolling sum 2) 2 at 5-minute mean
    m1 = [(_ts(2014, 1, 1, 12, 0, 1), 69), (_ts(2014, 1, 1, 12, 5, 31), 42),
          (_ts(2014, 1, 1, 12, 10, 31), 4), (_ts(2014, 1, 1, 12, 15, 45), 44)]
    m2 = [(_ts(2014, 1, 1, 12, 0, 5), 9), (_ts(2014, 1, 1, 12, 5, 41), 2),
          (_ts(2014, 1, 1, 12, 10, 31), 4), (_ts(2014, 1, 1, 12, 15, 10), 4)]
    wide = align_series(
        {"m1/mean": _mean_series(spark, m1, 300.0), "m2/mean": _mean_series(spark, m2, 300.0)},
        fill=None,
    )
    frame = SeriesFrame(df=wide, cols=["m1/mean", "m2/mean"])
    ast = ["/", ["rolling", "sum", 2, ["metric", ["m1", "mean"], ["m2", "mean"]]], 2]
    out = evaluate_to_long(ast, frame, 300.0)
    rows = {(r["series"], r["ts"]): r["value"] for r in out.collect()}
    # series order is positional: first output column <- m1
    m1_col = [c for (c, t) in rows if t == _ts(2014, 1, 1, 12, 5, 0)]
    vals_by_ts = {}
    for (series, ts), v in rows.items():
        vals_by_ts.setdefault(ts, {})[series] = v
    expected_m1 = {_ts(2014, 1, 1, 12, 5, 0): 55.5, _ts(2014, 1, 1, 12, 10, 0): 23.0,
                   _ts(2014, 1, 1, 12, 15, 0): 24.0}
    expected_m2 = {_ts(2014, 1, 1, 12, 5, 0): 5.5, _ts(2014, 1, 1, 12, 10, 0): 3.0,
                   _ts(2014, 1, 1, 12, 15, 0): 4.0}
    series_names = sorted({s for s, _ in rows}, key=lambda s: int(s[4:]))
    s1, s2 = series_names
    assert {t: v[s1] for t, v in vals_by_ts.items()} == expected_m1
    assert {t: v[s2] for t, v in vals_by_ts.items()} == expected_m2


def test_binary_two_refs_and_scalar(spark):
    # test_binary_operator_with_two_references (:1471-1505) at 1 h
    m1 = [(_ts(2014, 1, 1, 12, 0, 1), 69), (_ts(2014, 1, 1, 13, 1, 31), 42),
          (_ts(2014, 1, 1, 14, 2, 31), 4), (_ts(2014, 1, 1, 15, 3, 45), 44)]
    m2 = [(_ts(2014, 1, 1, 12, 0, 5), 9), (_ts(2014, 1, 1, 13, 1, 41), 2),
          (_ts(2014, 1, 1, 14, 2, 31), 4), (_ts(2014, 1, 1, 15, 3, 10), 4)]
    wide = align_series(
        {"m1/mean": _mean_series(spark, m1, 3600.0), "m2/mean": _mean_series(spark, m2, 3600.0)},
        fill=None,
    )
    frame = SeriesFrame(df=wide, cols=["m1/mean", "m2/mean"])
    out = evaluate_to_long(
        ["*", ["metric", "m1", "mean"], ["metric", "m2", "mean"]], frame, 3600.0
    )
    rows = {r["ts"]: r["value"] for r in out.collect()}
    assert rows == {
        _ts(2014, 1, 1, 12, 0, 0): 621.0,
        _ts(2014, 1, 1, 13, 0, 0): 84.0,
        _ts(2014, 1, 1, 14, 0, 0): 16.0,
        _ts(2014, 1, 1, 15, 0, 0): 176.0,
    }
    # test_binary_operator_ts_on_left (:1506-1532): * scalar
    out2 = evaluate_to_long(["*", ["metric", "m1", "mean"], 2], frame, 3600.0)
    rows2 = {r["ts"]: r["value"] for r in out2.collect()}
    assert rows2[_ts(2014, 1, 1, 12, 0, 0)] == 138.0
    assert rows2[_ts(2014, 1, 1, 15, 0, 0)] == 88.0


def test_max_operator(spark):
    # test_max_operator (:1743-1786): fmax(m1, m2*2) at 1 h
    m1 = [(_ts(2014, 1, 1, 12, 0, 1), -69), (_ts(2014, 1, 1, 13, 1, 31), 42),
          (_ts(2014, 1, 1, 14, 2, 31), -4), (_ts(2014, 1, 1, 15, 3, 45), 44)]
    m2 = [(_ts(2014, 1, 1, 12, 0, 5), -9), (_ts(2014, 1, 1, 13, 1, 41), -2),
          (_ts(2014, 1, 1, 14, 2, 31), 4), (_ts(2014, 1, 1, 15, 3, 10), -4)]
    wide = align_series(
        {"m1/mean": _mean_series(spark, m1, 3600.0), "m2/mean": _mean_series(spark, m2, 3600.0)},
        fill=None,
    )
    frame = SeriesFrame(df=wide, cols=["m1/mean", "m2/mean"])
    ast = ["max", ["metric", "m1", "mean"], ["*", ["metric", "m2", "mean"], 2]]
    rows = {r["ts"]: r["value"] for r in evaluate_to_long(ast, frame, 3600.0).collect()}
    assert rows == {
        _ts(2014, 1, 1, 12, 0, 0): -18.0,
        _ts(2014, 1, 1, 13, 0, 0): 42.0,
        _ts(2014, 1, 1, 14, 0, 0): 8.0,
        _ts(2014, 1, 1, 15, 0, 0): 44.0,
    }


def test_rateofchangesec(spark):
    # test_rateofchangesec_operator (:1787-1814): first ts kept, NULL value
    m1 = [(_ts(2014, 1, 1, 12, 0, 1), 0), (_ts(2014, 1, 1, 12, 5, 10), 450),
          (_ts(2014, 1, 1, 12, 10, 5), 900), (_ts(2014, 1, 1, 12, 15, 30), 1350)]
    s = _mean_series(spark, m1, 300.0)
    wide = align_series({"m1/mean": s}, fill=None)
    frame = SeriesFrame(df=wide, cols=["m1/mean"])
    out = evaluate_to_long(["rateofchangesec", ["metric", "m1", "mean"]], frame, 300.0)
    rows = {r["ts"]: r["value"] for r in out.collect()}
    assert rows[_ts(2014, 1, 1, 12, 0, 0)] is None  # NaN in the reference
    assert rows[_ts(2014, 1, 1, 12, 5, 0)] == pytest.approx(1.5)
    assert rows[_ts(2014, 1, 1, 12, 10, 0)] == pytest.approx(1.5)
    assert rows[_ts(2014, 1, 1, 12, 15, 0)] == pytest.approx(1.5)


def test_rateofchange_drops_first(spark):
    s = _series(spark, [(_ts(2014, 1, 1, 12, 0, 0), 1), (_ts(2014, 1, 1, 12, 1, 0), 4),
                        (_ts(2014, 1, 1, 12, 2, 0), 9)])
    wide = align_series({"a/mean": s}, fill=None)
    frame = SeriesFrame(df=wide, cols=["a/mean"])
    rows = {
        r["ts"]: r["value"]
        for r in evaluate_to_long(["rateofchange", ["metric", "a", "mean"]], frame, 60.0).collect()
    }
    assert rows == {_ts(2014, 1, 1, 12, 1, 0): 3.0, _ts(2014, 1, 1, 12, 2, 0): 5.0}


def test_comparison_and_clip(spark):
    s = _series(spark, [(_ts(2014, 1, 1, 12, 0, 0), 1), (_ts(2014, 1, 1, 12, 1, 0), 5),
                        (_ts(2014, 1, 1, 12, 2, 0), 9)])
    wide = align_series({"a/mean": s}, fill=None)
    frame = SeriesFrame(df=wide, cols=["a/mean"])
    rows = {
        r["ts"]: r["value"]
        for r in evaluate_to_long([">", ["metric", "a", "mean"], 4], frame, 60.0).collect()
    }
    assert rows == {_ts(2014, 1, 1, 12, 0, 0): 0.0, _ts(2014, 1, 1, 12, 1, 0): 1.0,
                    _ts(2014, 1, 1, 12, 2, 0): 1.0}
    rows = {
        r["ts"]: r["value"]
        for r in evaluate_to_long(["clip", ["metric", "a", "mean"], 2, 6], frame, 60.0).collect()
    }
    assert rows == {_ts(2014, 1, 1, 12, 0, 0): 2.0, _ts(2014, 1, 1, 12, 1, 0): 5.0,
                    _ts(2014, 1, 1, 12, 2, 0): 6.0}


def test_mixed_axis_raises(spark):
    # binary op between a rolled (shorter axis) and raw series must raise
    # (operations.py:170-176)
    s = _series(spark, [(_ts(2014, 1, 1, 12, 0, 0), 1), (_ts(2014, 1, 1, 12, 1, 0), 4),
                        (_ts(2014, 1, 1, 12, 2, 0), 9)])
    wide = align_series({"a/mean": s}, fill=None)
    frame = SeriesFrame(df=wide, cols=["a/mean"])
    ast = ["+", ["rolling", "mean", 2, ["metric", "a", "mean"]], ["metric", "a", "mean"]]
    with pytest.raises(UnAggregableTimeseries):
        evaluate(ast, frame)


def test_ffill(spark):
    a = _series(spark, [(_ts(2014, 1, 1, 12, 0, 0), 1), (_ts(2014, 1, 1, 12, 2, 0), 3)])
    b = _series(spark, [(_ts(2014, 1, 1, 12, 0, 0), 5), (_ts(2014, 1, 1, 12, 1, 0), 6),
                        (_ts(2014, 1, 1, 12, 2, 0), 7)])
    wide = align_series({"a/mean": a, "b/mean": b}, fill="ffill")
    rows = {r["ts"]: (r["a/mean"], r["b/mean"]) for r in wide.collect()}
    assert rows[_ts(2014, 1, 1, 12, 1, 0)] == (1.0, 6.0)  # a forward-filled


# ---------------------------------------------------------------------------
# query-string filter grammar (rest/api.py:1298-1378)
# ---------------------------------------------------------------------------

def test_query_string_parser_shapes():
    from gnocchi_spark.plans.filters import parse_query_string

    assert parse_query_string("host='h1'") == {"=": {"host": "h1"}}
    assert parse_query_string("a>=1 and b!='x' and c=2") == {
        "and": [{">=": {"a": 1.0}}, {"!=": {"b": "x"}}, {"=": {"c": 2.0}}]
    }
    assert parse_query_string("not (a=1 or b=2)") == {
        "not": {"or": [{"=": {"a": 1.0}}, {"=": {"b": 2.0}}]}
    }
    assert parse_query_string("id in [1,2]") == {"in": {"id": [1.0, 2.0]}}
    assert parse_query_string("ended_at=null") == {"=": {"ended_at": None}}
    assert parse_query_string("active=true") == {"=": {"active": True}}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_query_string("a === b")


def test_query_string_compile_null_tolerant_ne(spark):
    from pyspark.sql import Row

    from gnocchi_spark.plans.filters import compile_query_string

    df = spark.createDataFrame(
        [Row(host="h1"), Row(host="h2"), Row(host=None)]
    )
    got = {r["host"] for r in df.where(compile_query_string("host!='h1'")).collect()}
    # null-tolerant !=: NULL rows match (sqlalchemy.py:1593-1595)
    assert got == {"h2", None}


def test_full_ffill_and_bfill(spark):
    import datetime

    from pyspark.sql import Row

    def ts(m):
        return datetime.datetime(2026, 1, 1, 0, m)

    a = spark.createDataFrame(
        [Row(ts=ts(1), value=10.0), Row(ts=ts(3), value=30.0)]
    )
    b = spark.createDataFrame(
        [Row(ts=ts(0), value=1.0), Row(ts=ts(2), value=2.0)]
    )
    from gnocchi_spark.operators.align import align_series

    # full_ffill: forward fill then backward fill — no gaps remain,
    # leading gap of `a` takes the first following value
    wide = align_series({"a/mean": a, "b/mean": b}, fill="full_ffill")
    rows = {r["ts"].minute: (r["a/mean"], r["b/mean"]) for r in wide.collect()}
    assert rows[0] == (10.0, 1.0)   # a backfilled from 10 at :01
    assert rows[1] == (10.0, 1.0)   # b forward-filled from :00
    assert rows[2] == (10.0, 2.0)
    assert rows[3] == (30.0, 2.0)   # b forward-filled from :02
    # full_bfill: backward then forward — trailing gap of b takes the
    # last preceding value
    wide2 = align_series({"a/mean": a, "b/mean": b}, fill="full_bfill")
    rows2 = {r["ts"].minute: (r["a/mean"], r["b/mean"]) for r in wide2.collect()}
    assert rows2[0] == (10.0, 1.0)
    assert rows2[3] == (30.0, 2.0)
