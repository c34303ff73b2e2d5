"""Benchmark of record for the TSDB serving path.

    python3 perfbench/run.py --workload {ingest,query} --seed N --seconds S --trace {0,1}

Run from the root of a source checkout: the program under test is the
``gnocchi_spark`` package next to this directory.  One client in one
process drives a closed loop (the next operation starts when the
previous one returns) on ``local[$SPARK_GRAFT_CPUS]`` (default: all
cores).  The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
Both workloads report the same metrics: the end-to-end ones are about
the workload's own operation, and a traced run drives the layers its
workload leaves idle once after the measured loop.  The line before it
describes the run (machine, Spark settings, sample counts, per-kind
percentiles, failures).  Any failed operation or oracle mismatch makes
the exit code nonzero.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Fleet size: 20 resources x 5 metric names; six hours of history at one
# point per 30 s (gen.py).  Smaller than a production fleet so that one
# run fits its time budget with enough operations for stable medians.
N_RESOURCES = 20
WORKLOADS = ("ingest", "query")
OP_KINDS = {"ingest": ("ingest_commit",), "query": ("point_read", "aggregate", "groupby")}
ALL_KINDS = OP_KINDS["ingest"] + OP_KINDS["query"]
LAYERS = ("client", "streaming", "rollup", "store", "read", "plans", "align", "grouper")


def _import_program():
    """The package under test, from this checkout only."""
    sys.path.insert(0, ROOT)
    try:
        import gnocchi_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import gnocchi_spark from {ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(gnocchi_spark.__file__))
    if os.path.commonpath([where, ROOT]) != ROOT:
        raise SystemExit(f"perfbench: gnocchi_spark comes from {where}, not this checkout")
    return where


def _prepare_env(work: str) -> dict:
    """Keep every file Spark and Python write inside the work directory."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # STREAMING.md sizing: shuffle partitions ~ cores x 2
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * int(cpus)))
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the status store must keep every job and stage of a run for the
    # per-operation Spark counters
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    return {"SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_SHUFFLE_PARTITIONS": os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"]}


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def _source_digest(pkg: str) -> str:
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class Metrics:
    def __init__(self):
        self.values: dict[str, dict] = {}

    def put(self, name: str, value: float, unit: str, n: int = 1, **extra) -> None:
        self.values[name] = {"value": float(value), "unit": unit, "n": n, **extra}

    def timing(self, name: str, xs: list[float], unit: str = "ms") -> None:
        """p50 as ``<name>_p50_<unit>`` and the tail as ``<name>_tail_<unit>``."""
        from spans import percentile, tail_percentile

        if not xs:
            return
        p = tail_percentile(len(xs))
        self.put(f"{name}_p50_{unit}", statistics.median(xs), unit, len(xs), percentile=50)
        self.put(f"{name}_tail_{unit}", percentile(xs, p), unit, len(xs), percentile=p)

    def median(self, name: str, xs: list[float], unit: str) -> None:
        if xs:
            self.put(name, statistics.median(xs), unit, len(xs))


def end_to_end(args, client, loop, setup_s, live_bytes) -> tuple[Metrics, Metrics]:
    """The bounded metrics, the same four on every workload, and a
    per-kind breakdown that goes into the report line only.

    An operation is one batch commit on ``ingest`` (from the file landing
    to every granularity's store committing it) and one read of any
    shape on ``query``.  Ingest throughput counts compaction time; its
    cycles are whole, so every run pays for the same share of it."""
    m, detail = Metrics(), Metrics()
    m.put("setup_s", setup_s, "s", len(client.build_s), builds_s=client.build_s, parts=client.setup_parts)
    if args.workload == "ingest":
        lat, busy_s = client.commit_ms, client.ingest_busy_s
        detail.put("ingest_measures_per_s", client.committed / busy_s, "1/s", len(lat))
        detail.timing("ingest_commit", lat)
    else:
        reads = [o for o in loop if o.ok and o.kind in OP_KINDS["query"]]
        lat, busy_s = [o.ms for o in reads], client.read_busy_s
        for kind in OP_KINDS["query"]:
            detail.timing(kind, [o.ms for o in reads if o.kind == kind])
    m.median("latency_p50_ms", lat, "ms")
    m.put("ops_per_s", len(lat) / busy_s, "1/s", len(lat))
    m.put("stored_bytes_per_measure", live_bytes / client.oracle.n_raw, "B", 1)
    return m, detail


def per_layer(args, client, tracer, window, spark_ops, file_set) -> Metrics:
    m = Metrics()
    m.put("session.get_spark_ms", client.setup_parts["session_s"] * 1000.0, "ms")
    m.median("rollup.history_build_ms", [s * 1000.0 for s in client.build_s], "ms")
    units = {"_ms": "ms", "_bytes": "B", "_per_measure": "B/measure"}
    for name, xs in sorted(tracer.samples.items()):
        if name.startswith("_"):
            continue
        unit = next((u for suffix, u in units.items() if name.endswith(suffix)), "count")
        m.median(name, xs, unit)
    for name in ("manifest_files", "manifest_bytes", "disk_bytes"):
        m.put(f"store.{name}", file_set[name], "B" if name.endswith("bytes") else "count")
    ok = [o for o in window if o.ok]
    reads = [o for o in ok if o.kind == "point_read" and o.rows]
    if reads:
        m.median(
            "read.rows_scanned_per_row_returned",
            [spark_ops[o.id]["input_records"] / o.rows for o in reads],
            "ratio",
        )
    for kind in ALL_KINDS:
        mine = [spark_ops[o.id] for o in ok if o.kind == kind]
        for key, unit in (
            ("jobs", "count"), ("tasks", "count"), ("executor_run_ms", "ms"),
            ("shuffle_write_bytes", "B"), ("driver_ms", "ms"),
        ):
            m.median(f"spark.{key}_per_op.{kind}", [x[key] for x in mine], unit)
    traced = [o for o in ok if o.traced]
    self_ms = tracer.self_ms()
    for layer in LAYERS:
        if layer == "client":
            total = sum(v for k, v in self_ms.items() if "." not in k)
        else:
            total = sum(v for k, v in self_ms.items() if k.startswith(layer + "."))
        if traced and total:
            m.put(f"self_ms.{layer}", total / len(traced), "ms", len(traced))
    ratios = []
    for kind in OP_KINDS[args.workload]:
        warm = [o for o in ok if o.kind == kind][1:]  # the first one pays lazy start-up
        on = [o.ms for o in warm if o.traced]
        off = [o.ms for o in warm if not o.traced]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    if ratios:
        m.put("trace.overhead_ratio", statistics.mean(ratios), "ratio", len(ratios))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--plant-fault", action="store_true",
        help="corrupt one bucket value of the first read result checked (tests the oracle gate)",
    )
    args = ap.parse_args(argv)
    pkg = _import_program()

    from serving import Client
    from spans import Tracer, harvest_spark, spark_per_op

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _prepare_env(work)
    tracer = Tracer(bool(args.trace))
    client = Client(work, args.seed, N_RESOURCES, tracer, plant_fault=args.plant_fault)
    phases = {}
    t_phase = time.perf_counter()
    try:
        setup_s = client.setup(args.workload)
        phases["setup"] = time.perf_counter() - t_phase
        client.warm_up(args.workload)
        phases["warm_up"] = time.perf_counter() - t_phase - phases["setup"]
        first = len(tracer.ops)
        if args.workload == "ingest":
            client.run_ingest(args.seconds)
        else:
            client.run_query(args.seconds)
        loop = tracer.ops[first:]
        if args.trace:
            client.exercise_other_layers(args.workload)
        window = tracer.ops[first:]
        phases["window"] = time.perf_counter() - t_phase - phases["setup"] - phases["warm_up"]
        spark = client.spark
        settings = {
            **env,
            "nproc": os.cpu_count(),
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "rocksdb_state": client.rocksdb,
        }
        file_set = client.file_stats()
        peak_mb = _peak_rss_mb(spark)
        spark_ops = spark_per_op(window, harvest_spark(spark)) if args.trace else {}
        if client.streams:
            client.verify_ingest()
        else:
            client.verify_stores()
    except Exception:
        traceback.print_exc()
        client.stop()
        _remove_work(work)
        return 1
    phases["verify"] = time.perf_counter() - t_phase - sum(phases.values())
    client.stop()
    _remove_work(work)
    phases["stop"] = time.perf_counter() - t_phase - sum(phases.values())

    detail = Metrics()
    if args.trace:
        metrics = per_layer(args, client, tracer, window, spark_ops, file_set)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.write(span_file)
    else:
        metrics, detail = end_to_end(args, client, loop, setup_s, file_set["live_bytes"])
        span_file = None
    correct = client.failed == 0
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "git_commit": _git_commit(),
        "source_sha256": _source_digest(pkg),
        "fleet": {
            "resources": N_RESOURCES,
            "metrics": len(client.fleet.metrics),
            "history_measures": client.history_n,
            "raw_measures_held": client.oracle.n_raw,
        },
        # Reported here, not as bounded metrics: failures are 0 on a
        # healthy run, and peak RSS follows the JVM's heap sizing, which
        # swings by a third between identical runs.
        "failed_ops_ratio": client.failed / max(client.attempted, 1),
        "peak_rss_mb": peak_mb,
        "failures": client.failures[:20],
        "span_file": span_file and os.path.relpath(span_file, ROOT),
        "phases_s": phases,
        "ops": [[o.kind, round(o.ms, 1), o.ok] for o in window],
        "metrics": metrics.values,
        "breakdown": detail.values,
    }
    print(json.dumps({"report": report}))
    result = {
        "correct": correct,
        "attempted": max(client.attempted, 1),
        "failed": client.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.values.items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
