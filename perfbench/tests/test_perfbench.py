"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The planted-fault test starts Spark and takes about a minute.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from oracle import same_rows  # noqa: E402


def test_generator_is_byte_identical_for_one_seed():
    a = gen.digest(gen.make_fleet(7, 20), n_batches=3)
    b = gen.digest(gen.make_fleet(7, 20), n_batches=3)
    assert a == b
    assert gen.digest(gen.make_fleet(8, 20), n_batches=3) != a
    q1 = json.dumps(gen.make_queries(gen.make_fleet(7, 20), 200), sort_keys=True)
    q2 = json.dumps(gen.make_queries(gen.make_fleet(7, 20), 200), sort_keys=True)
    assert q1 == q2


def test_late_points_stay_inside_the_streamed_range_and_never_collide():
    fleet = gen.make_fleet(3, 20)
    stream = gen.BatchStream(fleet)
    seen = set()
    for _ in range(8):
        batch = stream.next_batch()
        for mid, ts, _v in batch.measures:
            assert gen.HISTORY_END_US <= ts <= batch.newest_us
            assert batch.newest_us - ts <= gen.MAX_LATE_S * gen.US
            assert (mid, ts) not in seen
            seen.add((mid, ts))


def test_oracle_comparison_rejects_one_wrong_bucket():
    want = [(0, 1.5), (60, 2.25)]
    assert same_rows([(0, 1.5), (60, 2.25 * (1 + 1e-12))], want)
    assert not same_rows([(0, 1.5), (60, 3.25)], want)
    assert not same_rows([(0, 1.5)], want)


def test_every_workload_reports_every_end_to_end_metric_of_the_manifest():
    from types import SimpleNamespace

    import run
    from spans import Op

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
    client = SimpleNamespace(
        build_s=[3.0, 2.0, 2.5], setup_parts={}, commit_ms=[900.0, 800.0, 850.0],
        ingest_busy_s=3.0, committed=3000, read_busy_s=4.0, oracle=SimpleNamespace(n_raw=1000),
    )
    loop = [Op(i, kind, 0.0, 0.5 + i, False) for i, kind in enumerate(("point_read", "aggregate", "groupby"))]
    for workload in run.WORKLOADS:
        metrics, _detail = run.end_to_end(SimpleNamespace(workload=workload), client, loop, 9.0, 20000)
        got = {name: v["unit"] for name, v in metrics.values.items()}
        assert got == want, workload
        assert all(v["value"] > 0 for v in metrics.values.values()), workload


def test_planted_wrong_bucket_fails_the_run():
    proc = subprocess.run(
        [
            sys.executable, os.path.join(BENCH, "run.py"), "--workload", "query",
            "--seed", "1", "--seconds", "1", "--trace", "0", "--plant-fault",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert result["attempted"] > result["failed"]
