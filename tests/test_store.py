"""SnapshotStore: snapshot-isolated reads, optimistic commits,
sack-granular merge rewrites, vacuum safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gnocchi_spark.operators.store import (
    SnapshotFrame,
    SnapshotStore,
    StoreConflict,
)


def _rollups(spark, rows):
    return spark.createDataFrame(
        rows, "metric_id string, granularity double, bucket_ts long, value double"
    )


def test_append_read_roundtrip_and_versioning(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), num_sacks=4)
    assert store.read(spark) is None
    m1 = store.append(_rollups(spark, [("m1", 60.0, 0, 1.0), ("m2", 60.0, 0, 2.0)]))
    assert m1.version == 1
    m2 = store.append(_rollups(spark, [("m1", 60.0, 60, 3.0)]))
    assert m2.version == 2
    got = store.read(spark)
    assert got.count() == 3
    # pinned read of v1 still sees only the first two rows
    assert store.read(spark, m1).count() == 2


def test_merge_upserts_and_only_rewrites_touched_sacks(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), num_sacks=8)
    base = store.append(
        _rollups(
            spark,
            [("m%d" % i, 60.0, 0, float(i)) for i in range(16)],
        )
    )
    batch = _rollups(spark, [("m3", 60.0, 0, 99.0), ("m3", 60.0, 60, 100.0)])
    m2 = store.merge(batch)
    got = {
        (r["metric_id"], r["bucket_ts"]): r["value"]
        for r in store.read(spark).collect()
    }
    assert got[("m3", 0)] == 99.0  # upserted
    assert got[("m3", 60)] == 100.0  # inserted
    assert got[("m5", 0)] == 5.0  # untouched
    assert len(got) == 17
    # untouched sack files are carried over BY REFERENCE
    batch_sacks = {
        r[0]
        for r in batch.withColumn(
            "sack", F.pmod(F.xxhash64("metric_id"), F.lit(8)).cast("int")
        )
        .select("sack")
        .distinct()
        .collect()
    }
    carried = set(base.files) & set(m2.files)
    assert carried, "untouched files must be reused, not rewritten"
    for p in carried:
        assert SnapshotStore._file_sack(p) not in batch_sacks


def test_pinned_reader_survives_merge_and_vacuum_respects_refs(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), num_sacks=4)
    m1 = store.append(_rollups(spark, [("a", 60.0, 0, 1.0), ("b", 60.0, 0, 2.0)]))
    pinned = store.read(spark, m1)
    store.merge(_rollups(spark, [("a", 60.0, 0, -1.0)]))
    # the pinned plan still computes the OLD values (old files intact)
    vals = {r["metric_id"]: r["value"] for r in pinned.collect()}
    assert vals == {"a": 1.0, "b": 2.0}
    # vacuum keeping both versions removes nothing referenced
    removed = store.vacuum(keep_versions=2)
    assert store.read(spark, m1).count() == 2
    # vacuum to only the latest drops v1-only files
    removed = store.vacuum(keep_versions=1)
    assert removed, "superseded files should be swept"
    latest = {r["metric_id"]: r["value"] for r in store.read(spark).collect()}
    assert latest["a"] == -1.0


def test_version_race_raises_conflict(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), num_sacks=2)
    store.append(_rollups(spark, [("a", 60.0, 0, 1.0)]))
    base = store.current()
    # another writer claims version base+1 first
    rival = os.path.join(
        str(tmp_path / "t"), "manifests", f"manifest-{base.version + 1:08d}.json"
    )
    with open(rival, "w") as f:
        f.write('{"version": %d, "files": []}' % (base.version + 1))
    with pytest.raises(StoreConflict):
        store._commit(base, add=["data/x/part-0.parquet"])
    # but the high-level append retries past it onto the next version
    m = store.append(_rollups(spark, [("b", 60.0, 0, 2.0)]))
    assert m.version == base.version + 2


def test_compact_to_one_file_per_sack(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), num_sacks=2)
    for i in range(3):
        store.append(_rollups(spark, [("m%d" % i, 60.0, 0, float(i))]))
    before = store.read(spark).count()
    m = store.compact()
    assert store.read(spark, m).count() == before
    sacks = {}
    for p in m.files:
        sacks.setdefault(SnapshotStore._file_sack(p), []).append(p)
    for s, files in sacks.items():
        assert len(files) == 1, f"sack {s} not compacted: {files}"


# -- layout contract: one file per sack, schema in the manifest ----------


def _files_by_sack(files):
    by_sack = {}
    for p in files:
        by_sack.setdefault(SnapshotStore._file_sack(p), []).append(p)
    return by_sack


def _sacks_of(df, num_sacks):
    return {
        r[0]
        for r in df.select(
            F.pmod(F.xxhash64("metric_id"), F.lit(num_sacks)).cast("int")
        )
        .distinct()
        .collect()
    }


def test_every_write_is_one_file_per_touched_sack(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), num_sacks=4)
    rows = [("m%d" % i, 60.0, t, float(i)) for i in range(12) for t in (0, 60, 120)]
    # many input partitions: without the sack repartition each would
    # leave its own file in every sack it holds rows of
    first = _rollups(spark, rows).repartition(6)
    m1 = store.append(first)
    assert {s: len(f) for s, f in _files_by_sack(m1.files).items()} == {
        s: 1 for s in _sacks_of(first, 4)
    }

    batch = _rollups(spark, [("m1", 60.0, 180, 1.5), ("m2", 60.0, 0, 2.5)]).repartition(3)
    m2 = store.merge(batch)
    written = _files_by_sack(set(m2.files) - set(m1.files))
    assert {s: len(f) for s, f in written.items()} == {s: 1 for s in _sacks_of(batch, 4)}

    store.append(_rollups(spark, rows[:6]).repartition(4))
    m4 = store.compact()
    assert {s: len(f) for s, f in _files_by_sack(m4.files).items()} == {
        s: 1 for s in _sacks_of(first, 4)
    }
    assert store.read(spark, m4).count() == len(rows) + 1 + 6


def _job_ids(spark):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_manifest_carries_schema_and_read_runs_no_job(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), num_sacks=4)
    df = _rollups(spark, [("m%d" % i, 60.0, i, float(i)) for i in range(8)])
    m = store.append(df)
    assert m.schema is not None and "sack" not in m.schema
    assert store.current() == m  # the schema survives the manifest file
    before = _job_ids(spark)
    got = store.read(spark)
    assert _job_ids(spark) == before, "read() must neither list nor infer"
    assert got.columns == df.columns
    assert sorted(tuple(r) for r in got.collect()) == sorted(tuple(r) for r in df.collect())


def test_manifest_without_schema_still_reads(spark):
    import pyarrow.parquet as pq

    from gnocchi_spark import planmode

    stub = SnapshotStore(os.path.join(planmode.FIXTURES, "store_stub"), num_sacks=2)
    m = stub.current()
    assert m.schema is None
    want = []
    for p in stub._abs(m.files):
        t = pq.read_table(p, columns=["metric_id", "mean", "cnt"])
        want.extend(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    got = stub.read(spark).select("metric_id", "mean", "cnt").collect()
    assert sorted(tuple(r) for r in got) == sorted(want)
    assert len(got) == 40


def test_empty_merge_commits_nothing(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), num_sacks=4)
    empty = _rollups(spark, [])
    assert store.merge(empty) is None  # empty store stays empty
    assert store.current() is None
    m1 = store.append(_rollups(spark, [("a", 60.0, 0, 1.0)]))
    assert store.merge(empty) == m1
    assert store.current() == m1
    data_files = {
        os.path.relpath(os.path.join(d, n), store.root)
        for d, _dirs, names in os.walk(os.path.join(store.root, "data"))
        for n in names
        if n.endswith(".parquet")
    }
    assert data_files == set(m1.files)


@pytest.mark.parametrize("pinned", [True, False], ids=["pinned", "unpinned"])
def test_get_measures_sorts_a_series_spread_over_files(spark, tmp_path, pinned):
    import datetime as dt

    from gnocchi_spark.operators.read import get_measures

    store = SnapshotStore(str(tmp_path / "t"), num_sacks=2)
    t0 = dt.datetime(2024, 1, 1)
    minutes = list(range(40))
    # four commits of interleaved minutes, newest first, plus another
    # metric: the series sits in several files, each its own partition
    for k in range(4):
        store.append(
            spark.createDataFrame(
                [
                    (mid, "mean", "60", t0 + dt.timedelta(minutes=i), float(i))
                    for i in reversed(minutes[k::4])
                    for mid in ("m1", "m2")
                ],
                "metric_id string, method string, granularity string, "
                "bucket_ts timestamp, value double",
            ).repartition(3)
        )
    df = store.read(spark)
    assert df.rdd.getNumPartitions() > 1
    if not pinned:  # a transformed frame drops the pin: the Spark plan
        df = df.select("*")
    assert isinstance(df, SnapshotFrame) == pinned
    rows = get_measures(df, "m1", "mean", 60.0).collect()
    assert [r["bucket_ts"] for r in rows] == [t0 + dt.timedelta(minutes=i) for i in minutes]
    assert [r["value"] for r in rows] == [float(i) for i in minutes]
    coarse = get_measures(df, "m1", "mean", 60.0, resample=300.0).collect()
    assert [r["bucket_ts"] for r in coarse] == [
        t0 + dt.timedelta(minutes=i) for i in range(0, 40, 5)
    ]
    assert [r["value"] for r in coarse] == [i + 2.0 for i in range(0, 40, 5)]


_SERIES_DDL = (
    "metric_id string, method string, granularity string, "
    "bucket_ts timestamp, value double"
)
_LOCAL_METHODS = (
    "mean", "sum", "last", "max", "min", "std", "median", "first", "count",
    "90pct", "rate:mean",
)


@pytest.fixture(scope="module")
def series_store(spark, tmp_path_factory):
    """Two metrics x every method at 60 s over two commits, with gaps."""
    import datetime as dt
    import random

    rng = random.Random(7)
    store = SnapshotStore(str(tmp_path_factory.mktemp("series")), num_sacks=2)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (mid, method, "60", t0 + dt.timedelta(minutes=i), round(rng.uniform(-50, 50), 3))
        for mid in ("m1", "m2")
        for method in _LOCAL_METHODS
        for i in range(40)
        if rng.random() < 0.8
    ]
    rng.shuffle(rows)
    half = len(rows) // 2
    for part in (rows[:half], rows[half:]):
        store.append(spark.createDataFrame(part, _SERIES_DDL).repartition(2))
    return store


def _same_rows(got, want):
    import math

    assert [(r["bucket_ts"], r["granularity"]) for r in got] == [
        (r["bucket_ts"], r["granularity"]) for r in want
    ]
    for g, w in zip(got, want):
        assert (g["value"] is None) == (w["value"] is None)
        if w["value"] is not None:  # resample sums partials in scan order
            assert math.isclose(g["value"], w["value"], rel_tol=1e-9, abs_tol=1e-12)


def _reads_local_relation(df):
    return "LocalRelation" in df._jdf.queryExecution().analyzed().toString()


def test_local_tier_matches_spark_plan(spark, series_store):
    import datetime as dt

    from gnocchi_spark.operators.read import get_measures

    pinned = series_store.read(spark)
    plain = pinned.select("*")
    utc = dt.timezone.utc
    windows = [
        (None, None),
        ("2024-01-01T00:07:30", None),  # unaligned start: floored
        (None, "2024-01-01 00:20:00"),  # stop on a bucket: excluded
        ("2024-01-01T00:03:20.5Z", "2024-01-01T00:31:00Z"),
        (dt.datetime(2024, 1, 1, 0, 12, 10, tzinfo=utc), dt.datetime(2024, 1, 1, 0, 25, tzinfo=utc)),
        ("2024-01-01", "2024-01-01T00:33:00"),
        (dt.datetime(2024, 1, 1, 0, 4), dt.datetime(2024, 1, 1, 0, 29)),  # naive: Spark plan
    ]
    cases = [
        (mid, method, windows[i % len(windows)], (None, 300.0)[i % 2])
        for i, (mid, method) in enumerate(
            [("m1", m) for m in _LOCAL_METHODS] + [("m2", "mean"), ("m2", "std")]
        )
    ]
    cases += [
        ("m1", "mean", ("2024-01-01T00:10:00", "2024-01-01T00:10:00"), None),  # empty
        ("m1", "max", ("2024-01-01T00:10:00", "2024-01-01T00:10:00"), 300.0),
        ("absent", "mean", (None, None), None),
        ("absent", "sum", ("2024-01-01T00:07:30", None), 300.0),
    ]
    nonempty = 0
    for mid, method, (start, stop), resample in cases:
        local = get_measures(pinned, mid, method, 60.0, start, stop, resample)
        naive = isinstance(start, dt.datetime) and start.tzinfo is None
        assert _reads_local_relation(local) != naive, (start, stop)
        want = get_measures(plain, mid, method, 60.0, start, stop, resample).collect()
        _same_rows(local.collect(), want)
        nonempty += bool(want)
    assert nonempty == len(cases) - 4


def test_local_tier_runs_no_job_without_resample(spark, series_store):
    from gnocchi_spark.operators.read import get_measures

    df = series_store.read(spark)
    before = _job_ids(spark)
    rows = get_measures(df, "m1", "mean", 60.0, "2024-01-01T00:05:00", "2024-01-01T00:30:00").collect()
    assert _job_ids(spark) == before, "a small pinned read must not submit a Spark job"
    assert rows and [r["bucket_ts"] for r in rows] == sorted(r["bucket_ts"] for r in rows)


def test_stub_and_over_cap_stores_keep_the_spark_plan(spark, series_store, monkeypatch):
    from gnocchi_spark import planmode
    from gnocchi_spark.operators import store as store_mod
    from gnocchi_spark.operators.read import _local_series, get_measures

    stub = SnapshotStore(os.path.join(planmode.FIXTURES, "store_stub"), num_sacks=2)
    assert stub.read_local(stub.current(), ["metric_id"], [("metric_id", "==", "x")]) is None
    assert _local_series(stub.read(spark), "x", "mean", 60.0, None, None, None) is None

    df = series_store.read(spark)
    assert _local_series(df, "m1", "mean", "D", None, None, None) is None  # calendar
    want = get_measures(df, "m1", "sum", 60.0, "2024-01-01T00:05:00").collect()
    monkeypatch.setattr(store_mod, "LOCAL_READ_MAX_BYTES", 0)
    assert _local_series(df, "m1", "sum", 60.0, "2024-01-01T00:05:00", None, None) is None
    before = _job_ids(spark)
    got = get_measures(df, "m1", "sum", 60.0, "2024-01-01T00:05:00").collect()
    assert _job_ids(spark) != before, "an over-cap store must be read by Spark"
    _same_rows(got, want)
