"""The benchmark's client: it drives the product's documented ingest
recipe and its three read shapes, one operation at a time (closed
loop), and checks every result against the DuckDB oracle outside the
timed spans.

Ingest (doc/STREAMING.md): REST batch-JSON files land in a directory;
``parse_batch_measures_json`` decodes them; one ``streaming_rollup``
query per granularity of the "medium" archive policy feeds
``foreachBatch`` -> ``melt_rollup`` -> ``SnapshotStore.merge``, one
store per granularity.  The history is prebuilt with ``rollup_policy``
+ ``SnapshotStore.append``.

Reads: point reads (``store.read`` + ``get_measures``), cross-metric
aggregates (``compile_filter`` search, ``align_series``,
``evaluate_to_long``) and history-weighted group-bys (the search, then
``history_grouped_aggregate``).
"""

from __future__ import annotations

import calendar
import dataclasses
import datetime as dt
import os
import random
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from gen import US
from oracle import Oracle, same_rows

GRANULARITIES = (60.0, 3600.0)  # the "medium" archive policy
# 8 sacks for 100 metrics; the SnapshotStore default of 32 would leave
# about three metrics per sack at this fleet size
NUM_SACKS = 8
# late points arrive up to 30 min behind the newest point; one hour of
# back window (one coarsest-granularity block) admits all of them
BACK_WINDOW_BLOCKS = 1
HISTORY_BUILDS = 3  # set-up repetitions; setup_s reports the median
COMPACT_EVERY = 3  # compact() + vacuum() every K committed batches
# Both loops run whole cycles, so every run serves the same multiset of
# operations: ingest cycles are K commits + one compaction; query cycles
# are the read mix five times over.
QUERY_CYCLE = 5 * len(gen.QUERY_MIX)
QUERY_REQUESTS = 100 * QUERY_CYCLE  # generated up front; the loop wraps around
PROBE_BATCHES = 2  # batches a traced query run streams to measure the ingest layers


def _us(ts) -> int:
    """A collected TIMESTAMP (naive, session and process time zone UTC)."""
    return calendar.timegm(ts.utctimetuple()) * US + ts.microsecond


def _iso(ts_us: int) -> str:
    return gen.iso(ts_us)[:19]


def _files_bytes(root: str, files) -> int:
    return sum(os.path.getsize(os.path.join(root, f)) for f in files)


class Client:
    def __init__(self, work: str, seed: int, n_resources: int, tracer, plant_fault: bool = False):
        self.work = work
        self.seed = seed
        self.n_resources = n_resources
        self.tr = tracer
        self.plant_fault = plant_fault
        self.setup_parts: dict[str, float] = {}
        self.build_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.streams = []
        self._handlers = {"point": self.point_read, "aggregate": self.aggregate, "groupby": self.groupby}

    # -- set-up ------------------------------------------------------------

    def start_session(self) -> None:
        t = time.perf_counter()
        from gnocchi_spark.session import enable_rocksdb_state, get_spark

        self.spark = get_spark("perfbench")
        # the documented streaming recipe: RocksDB state before any start()
        self.rocksdb = enable_rocksdb_state(self.spark)
        self.setup_parts["session_s"] = time.perf_counter() - t

    def generate(self) -> None:
        """Inputs: the fleet, the history, the dimension tables."""
        t = time.perf_counter()
        self.fleet = gen.make_fleet(self.seed, self.n_resources)
        mids, tss, vals = gen.history_columns(self.fleet)
        d = os.path.join(self.work, "inputs")
        os.makedirs(d)
        ts_type = pa.timestamp("us", tz="UTC")
        pq.write_table(
            pa.table({"metric_id": mids, "ts": pa.array(tss, ts_type), "value": vals}),
            os.path.join(d, "history.parquet"),
        )
        pq.write_table(pa.Table.from_pylist(self.fleet.resources), os.path.join(d, "resources.parquet"))
        revs = self.fleet.revisions
        pq.write_table(
            pa.table(
                {
                    "resource_id": [r["resource_id"] for r in revs],
                    "revision_start": pa.array([r["revision_start"] for r in revs], ts_type),
                    "revision_end": pa.array([r["revision_end"] for r in revs], ts_type),
                    **{a: [r[a] for r in revs] for a in gen.ATTRS},
                }
            ),
            os.path.join(d, "revisions.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "metric_id": [m[0] for m in self.fleet.metrics],
                    "resource_id": [m[1] for m in self.fleet.metrics],
                    "name": [m[2] for m in self.fleet.metrics],
                }
            ),
            os.path.join(d, "metrics.parquet"),
        )
        self.setup_parts["generate_s"] = time.perf_counter() - t
        self.history_n = len(mids)
        # the oracle is the benchmark's own, outside every timed span
        self.oracle = Oracle(self.fleet)
        self.oracle.add(mids, tss, vals)
        self.metric_of = {(rid, name): mid for mid, rid, name in self.fleet.metrics}

    def build_history(self) -> None:
        """rollup_policy + SnapshotStore.append, HISTORY_BUILDS times into
        fresh stores; the workload runs on the last set."""
        from pyspark.sql import functions as F

        from gnocchi_spark.functions.timeutil import granularity_label
        from gnocchi_spark.operators.rollup import rollup_policy
        from gnocchi_spark.operators.store import SnapshotStore
        from gnocchi_spark.policy import default_policies

        spark = self.spark
        self.policy = dataclasses.replace(default_policies()["medium"], back_window=BACK_WINDOW_BLOCKS)
        self.methods = sorted(self.policy.aggregation_methods)
        d = os.path.join(self.work, "inputs")
        for rep in range(HISTORY_BUILDS):
            t = time.perf_counter()
            hist = spark.read.parquet(os.path.join(d, "history.parquet"))
            rolled = rollup_policy(hist, self.policy)
            stores = {}
            for g in GRANULARITIES:
                st = SnapshotStore(os.path.join(self.work, f"stores{rep}", f"g{int(g)}"), num_sacks=NUM_SACKS)
                st.append(rolled.where(F.col("granularity") == granularity_label(g)))
                stores[g] = st
            self.build_s.append(time.perf_counter() - t)
            # rollup_policy caches its finest partials; drop them so the
            # next repetition builds from scratch
            spark.catalog.clearCache()
            if rep < HISTORY_BUILDS - 1:
                shutil.rmtree(os.path.join(self.work, f"stores{rep}"))
        self.stores = stores
        self.labels = {g: granularity_label(g) for g in GRANULARITIES}
        self.resources_df = spark.read.parquet(os.path.join(d, "resources.parquet"))
        self.revisions_df = spark.read.parquet(os.path.join(d, "revisions.parquet"))
        self.metrics_df = spark.read.parquet(os.path.join(d, "metrics.parquet"))

    def start_streams(self) -> None:
        """One streaming rollup per granularity over the landing dir."""
        from gnocchi_spark.sources.batch_post import parse_batch_measures_json
        from gnocchi_spark.streaming.ingest import streaming_rollup

        t = time.perf_counter()
        self.landing = os.path.join(self.work, "landing")
        self.staging = os.path.join(self.work, "staging")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        raw = self.spark.readStream.format("text").option("path", self.landing).load()
        measures = parse_batch_measures_json(raw.withColumnRenamed("value", "body"))
        self.streams = []
        for g in GRANULARITIES:
            rolled = streaming_rollup(
                measures, self.methods, g, back_window_seconds=self.policy.back_window_s
            )
            q = (
                rolled.writeStream.outputMode("update")
                .foreachBatch(self._sink(g))
                .option("checkpointLocation", os.path.join(self.work, "checkpoints", f"g{int(g)}"))
                .queryName(f"rollup_{int(g)}")
                .start()
            )
            self.streams.append(q)
        self.batches = gen.BatchStream(self.fleet)
        self.committed = 0
        self.commit_ms: list[float] = []
        self.maint_ms: list[float] = []
        self.setup_parts["stream_start_s"] = time.perf_counter() - t

    def _sink(self, g: float):
        from gnocchi_spark.operators.rollup import melt_rollup

        store, tr = self.stores[g], self.tr

        def sink(batch_df, _epoch):
            with tr.span("rollup.melt_rollup"):
                long = melt_rollup(batch_df, self.methods, g)
            before = store.current() if tr.tracing else None
            t = time.perf_counter()
            with tr.span("store.merge"):
                store.merge(long)
            tr.sample("store.merge_ms", (time.perf_counter() - t) * 1000.0)
            if before is not None:
                after = store.current()
                read = set(before.files) - set(after.files)
                written = set(after.files) - set(before.files)
                tr.sample("store.sacks_touched_per_merge", len({store._file_sack(f) for f in read}))
                tr.sample("store.files_read_per_merge", len(read))
                tr.sample("store.files_written_per_merge", len(written))
                tr.sample("store.versions_per_merge", after.version - before.version)
                tr.sample("_bytes_written", _files_bytes(store.root, written))

        return sink

    def setup(self, workload: str) -> float:
        """Returns setup_s: session start, input generation, the median
        history build and, for ingest, the streaming-query start."""
        self.start_session()
        self.generate()
        self.build_history()
        if workload == "ingest":
            self.start_streams()
        p = self.setup_parts
        return (
            p["session_s"] + p["generate_s"] + statistics.median(self.build_s)
            + p.get("stream_start_s", 0.0)
        )

    # -- bookkeeping -------------------------------------------------------

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def _check(self, what: str, got: list[tuple], want: list[tuple]) -> None:
        self.attempted += 1
        if self.plant_fault and got:
            # test hook: one wrong bucket value in the first result checked
            got = [got[0][:-1] + (got[0][-1] + 1.0,)] + got[1:]
            self.plant_fault = False
        if not same_rows(got, want):
            self._fail(f"{what}: {len(got)} rows served, {len(want)} expected or values differ")

    # -- ingest ------------------------------------------------------------

    def _ingest(self, batch, traced: bool) -> None:
        staged = os.path.join(self.staging, f"batch-{batch.index:06d}.json")
        with open(staged, "wb") as f:
            f.write(batch.body)
        landed = os.path.join(self.landing, os.path.basename(staged))
        with self.tr.op("ingest_commit", traced) as op:
            os.replace(staged, landed)
            for q in self.streams:
                with self.tr.span("streaming.process_all_available"):
                    q.processAllAvailable()
        self.oracle.add(*map(list, zip(*batch.measures)))
        self.committed += len(batch.measures)
        self.newest_us = batch.newest_us
        self.commit_ms.append(op.ms)
        if traced:
            self._streaming_samples(op, len(batch.measures))
            self._decode_sample(landed, batch)

    def _streaming_samples(self, op, n_measures: int) -> None:
        """Streaming counters of the micro-batches this commit triggered
        (those that started while it ran), from recentProgress."""
        written = self.tr.samples.pop("_bytes_written", [])
        self.tr.always("store.bytes_written_per_measure", sum(written) / n_measures)
        n = 0
        for q in self.streams:
            for p in q.recentProgress:
                started = dt.datetime.fromisoformat(p.timestamp).timestamp()
                d = p.durationMs
                # idle progress events carry no addBatch: no micro-batch ran
                if not op.start <= started <= op.end or "addBatch" not in d:
                    continue
                n += 1
                self.tr.always("streaming.trigger_ms", d.get("triggerExecution", 0))
                self.tr.always("streaming.query_planning_ms", d.get("queryPlanning", 0))
                self.tr.always("streaming.add_batch_ms", d.get("addBatch", 0))
                for s in p.stateOperators:
                    self.tr.always("streaming.state_rows", s.numRowsTotal)
                    self.tr.always("streaming.state_commit_ms", s.commitTimeMs)
        self.tr.always("streaming.microbatches_per_commit", n / len(self.streams))

    def _decode_sample(self, path: str, batch) -> None:
        """sources layer alone: decode the landed file into a noop sink."""
        from gnocchi_spark.sources.batch_post import parse_batch_measures_json

        t = time.perf_counter()
        body = self.spark.read.text(path).withColumnRenamed("value", "body")
        parse_batch_measures_json(body).write.format("noop").mode("overwrite").save()
        self.tr.always("sources.decode_ms", (time.perf_counter() - t) * 1000.0)
        self.tr.always("sources.measures_per_batch", len(batch.measures))
        self.tr.always("sources.payload_bytes_per_measure", len(batch.body) / len(batch.measures))

    def _maintain(self, traced: bool) -> None:
        t0 = time.perf_counter()
        with self.tr.op("maintenance", traced):
            for st in self.stores.values():
                t = time.perf_counter()
                with self.tr.span("store.compact"):
                    st.compact()
                self.tr.always("store.compact_ms", (time.perf_counter() - t) * 1000.0)
                t = time.perf_counter()
                with self.tr.span("store.vacuum"):
                    removed = st.vacuum()
                self.tr.always("store.vacuum_ms", (time.perf_counter() - t) * 1000.0)
                self.tr.always("store.files_removed_per_vacuum", len(removed))
        self.maint_ms.append((time.perf_counter() - t0) * 1000.0)

    def run_ingest(self, seconds: float, cycle: int = COMPACT_EVERY, trace_all: bool = False) -> None:
        """Whole cycles of ``cycle`` commits + compact/vacuum until
        ``seconds`` of ingest-loop time have passed (at least one cycle).
        Every other commit is traced, or all with ``trace_all``."""
        busy = 0.0
        k = 0
        while True:
            batch = self.batches.next_batch()
            traced = trace_all or k % 2 == 0
            self.attempted += 1
            try:
                self._ingest(batch, traced)
                k += 1
                if k % cycle == 0:
                    self._maintain(traced)
            except Exception as e:  # a failed streaming query or StoreConflict
                self._fail(f"ingest batch {batch.index}: {type(e).__name__}: {e}"[:500])
                break
            if k % cycle == 0:
                busy = (sum(self.commit_ms) + sum(self.maint_ms)) / 1000.0
                if busy >= seconds:
                    break
        self.ingest_busy_s = (sum(self.commit_ms) + sum(self.maint_ms)) / 1000.0

    def verify_ingest(self) -> None:
        """Read-your-writes probes through the product's point-read path:
        each window ends just after the newest commit's bucket, so a
        stale read differs from the oracle.  Then every store against
        the oracle."""
        rng = random.Random(f"probe/{self.seed}")
        for g in GRANULARITIES:
            last = self.newest_us - self.newest_us % int(g * US)
            req = {
                "kind": "point", "metric_id": rng.choice(self.fleet.metric_ids), "method": "mean",
                "granularity": g, "start_us": last - 6 * int(g * US), "stop_us": last + int(g * US),
                "resample": None,
            }
            self.point_read(req, traced=False)
        self.verify_stores()

    def verify_stores(self) -> None:
        for g, st in self.stores.items():
            self.attempted += 1
            m = st.current()
            n, bad = self.oracle.store_mismatches(
                [os.path.join(st.root, f) for f in m.files], g, self.labels[g]
            )
            if bad or not n:
                self._fail(f"store g={g:g}: {bad} of {n} rows differ from the oracle")

    def file_stats(self) -> dict:
        """Live data bytes (manifest-referenced), manifest file count and
        size, and every byte under the store roots."""
        out = {"live_bytes": 0, "manifest_files": 0, "manifest_bytes": 0, "disk_bytes": 0}
        for st in self.stores.values():
            m = st.current()
            out["live_bytes"] += _files_bytes(st.root, m.files)
            out["manifest_files"] += len(m.files)
            out["manifest_bytes"] += os.path.getsize(os.path.join(st.root, "manifests", m.name))
            out["disk_bytes"] += sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(st.root) for f in fs
            )
        return out

    # -- reads -------------------------------------------------------------

    def _store_frame(self, g: float):
        st = self.stores[g]
        t = time.perf_counter()
        with self.tr.span("store.current"):
            m = st.current()
        self.tr.sample("store.current_ms", (time.perf_counter() - t) * 1000.0)
        t = time.perf_counter()
        with self.tr.span("store.read"):
            df = st.read(self.spark, m)
        self.tr.sample("store.read_ms", (time.perf_counter() - t) * 1000.0)
        return df, m

    def point_read(self, req: dict, traced: bool) -> None:
        from gnocchi_spark.operators.read import get_measures

        tr = self.tr
        g = req["granularity"]
        try:
            with tr.op("point_read", traced) as op:
                df, m = self._store_frame(g)
                t = time.perf_counter()
                with tr.span("read.get_measures"):
                    q = get_measures(
                        df, req["metric_id"], req["method"], g,
                        _iso(req["start_us"]), _iso(req["stop_us"]), req["resample"],
                    )
                tr.sample("read.get_measures_ms", (time.perf_counter() - t) * 1000.0)
                t = time.perf_counter()
                with tr.span("read.collect"):
                    rows = q.collect()
                tr.sample("read.collect_ms", (time.perf_counter() - t) * 1000.0)
                op.rows = len(rows)
                tr.sample("read.rows_returned", len(rows))
                tr.sample("read.files_opened_per_read", len(m.files))
        except Exception as e:
            self.attempted += 1
            self._fail(f"point_read: {type(e).__name__}: {e}"[:500])
            return
        got = [(_us(r["bucket_ts"]), r["value"]) for r in rows]
        want = self.oracle.point_read(
            req["metric_id"], req["method"], g, req["start_us"], req["stop_us"], req["resample"]
        )
        self._check("point_read", got, want)

    def _search(self, node: dict) -> list[str]:
        from gnocchi_spark.plans.filters import compile_filter

        tr = self.tr
        t = time.perf_counter()
        with tr.span("plans.filter_compile"):
            cond = compile_filter(node)
        tr.sample("plans.filter_compile_ms", (time.perf_counter() - t) * 1000.0)
        t = time.perf_counter()
        with tr.span("plans.search"):
            rids = [r[0] for r in self.resources_df.where(cond).select("resource_id").collect()]
        tr.sample("plans.search_ms", (time.perf_counter() - t) * 1000.0)
        return sorted(rids)

    def aggregate(self, req: dict, traced: bool) -> None:
        from pyspark.sql import functions as F

        from gnocchi_spark.operators.align import align_series
        from gnocchi_spark.operators.read import get_measures
        from gnocchi_spark.plans.operations import SeriesFrame, evaluate_to_long

        tr = self.tr
        g, method = req["granularity"], req["method"]
        start, stop = _iso(req["start_us"]), _iso(req["stop_us"])
        try:
            with tr.op("aggregate", traced):
                rids = self._search(req["filter"])
                mids = [self.metric_of[(r, req["name"])] for r in rids]
                tr.sample("plans.metrics_per_aggregate", len(mids))
                df, _m = self._store_frame(g)
                with tr.span("read.get_measures"):
                    series = {
                        f"{mid}/{method}": get_measures(df, mid, method, g, start, stop).select(
                            F.col("bucket_ts").alias("ts"), "value"
                        )
                        for mid in mids
                    }
                t = time.perf_counter()
                with tr.span("align.align_series"):
                    wide = align_series(series, start=start, stop=stop, granularity_s=g)
                tr.sample("align.align_series_ms", (time.perf_counter() - t) * 1000.0)
                ast = ["aggregate", req["cross"], ["metric", *[[mid, method] for mid in mids]]]
                t = time.perf_counter()
                with tr.span("plans.evaluate"):
                    out = evaluate_to_long(ast, SeriesFrame(df=wide, cols=list(series)), g)
                tr.sample("plans.evaluate_ms", (time.perf_counter() - t) * 1000.0)
                t = time.perf_counter()
                with tr.span("plans.aggregate_collect"):
                    rows = out.collect()
                tr.sample("plans.aggregate_collect_ms", (time.perf_counter() - t) * 1000.0)
        except Exception as e:
            self.attempted += 1
            self._fail(f"aggregate: {type(e).__name__}: {e}"[:500])
            return
        if rids != self.oracle.search(req["filter"]):
            self.attempted += 1
            self._fail("aggregate: search matched other resources than the oracle")
            return
        got = [(_us(r["ts"]), r["value"]) for r in rows]
        want = self.oracle.aggregate(mids, method, req["cross"], g, req["start_us"], req["stop_us"])
        self._check("aggregate", got, want)

    def groupby(self, req: dict, traced: bool) -> None:
        from pyspark.sql import functions as F

        from gnocchi_spark.operators.grouper import history_grouped_aggregate

        tr = self.tr
        g, attr = req["granularity"], req["attr"]
        start, stop = _iso(req["start_us"]), _iso(req["stop_us"])
        try:
            with tr.op("groupby", traced):
                rids = self._search(req["filter"])
                df, _m = self._store_frame(g)
                t = time.perf_counter()
                with tr.span("grouper.prepare"):
                    metrics = self.metrics_df.where(
                        (F.col("name") == req["name"]) & F.col("resource_id").isin(rids)
                    )
                    bucketed = (
                        df.where(
                            (F.col("method") == req["method"])
                            & (F.col("granularity") == self.labels[g])
                            & (F.col("bucket_ts") >= F.lit(start).cast("timestamp"))
                            & (F.col("bucket_ts") < F.lit(stop).cast("timestamp"))
                        )
                        .join(metrics, "metric_id")
                        .select("resource_id", "bucket_ts", "value")
                    )
                    revisions = self.revisions_df.where(F.col("resource_id").isin(rids))
                tr.sample("grouper.prepare_ms", (time.perf_counter() - t) * 1000.0)
                t = time.perf_counter()
                with tr.span("grouper.history_grouped_aggregate"):
                    out = history_grouped_aggregate(bucketed, revisions, [attr], g, start, stop)
                tr.sample("grouper.call_ms", (time.perf_counter() - t) * 1000.0)
                t = time.perf_counter()
                with tr.span("grouper.collect"):
                    rows = out.collect()
                tr.sample("grouper.collect_ms", (time.perf_counter() - t) * 1000.0)
                if tr.tracing:
                    tr.sample("grouper.revisions_per_query", sum(
                        1 for r in self.fleet.revisions if r["resource_id"] in set(rids)
                    ))
        except Exception as e:
            self.attempted += 1
            self._fail(f"groupby: {type(e).__name__}: {e}"[:500])
            return
        if rids != self.oracle.search(req["filter"]):
            self.attempted += 1
            self._fail("groupby: search matched other resources than the oracle")
            return
        got = [(r[attr], _us(r["bucket_ts"]), r["value"]) for r in rows]
        want = self.oracle.groupby(
            rids, req["name"], req["method"], attr, g, req["start_us"], req["stop_us"]
        )
        self._check("groupby", got, want)

    def warm_up(self, workload: str) -> None:
        """Before the measured loop, outside it: one commit on ``ingest``,
        one round of the read mix on ``query``, so that the measured
        operations do not pay the JVM's and Spark's lazy start-up.  The
        warm-up reads are the last generated requests, which the measured
        loop never reaches; their results are checked like any other."""
        if workload == "ingest":
            self._ingest(self.batches.next_batch(), traced=False)
            self.committed = 0
            self.commit_ms.clear()
        else:
            mix = len(gen.QUERY_MIX)
            for req in gen.make_queries(self.fleet, QUERY_REQUESTS)[-mix:]:
                self._handlers[req["kind"]](req, traced=False)

    def run_query(self, seconds: float) -> None:
        """Whole cycles of the read mix until ``seconds`` of read-loop time
        have passed."""
        requests = gen.make_queries(self.fleet, QUERY_REQUESTS)
        mix = len(gen.QUERY_MIX)
        busy = 0.0
        i = 0
        n_ops = len(self.tr.ops)
        while busy < seconds:
            for j, req in enumerate(requests[i : i + QUERY_CYCLE], start=i):
                # alternate whole mixes, so every shape is traced and untraced
                self._handlers[req["kind"]](req, traced=(j // mix) % 2 == 0)
            i = (i + QUERY_CYCLE) % len(requests)
            busy = sum(o.ms for o in self.tr.ops[n_ops:]) / 1000.0
        self.read_busy_s = busy

    def exercise_other_layers(self, workload: str) -> None:
        """Traced runs only, after the measured loop: drive the layers the
        workload leaves idle once, traced, so that a traced run of either
        workload measures every layer.  ``query`` streams PROBE_BATCHES
        batches and compacts; ``ingest`` serves one round of the read mix."""
        if workload == "query":
            self.start_streams()
            self.run_ingest(0.0, cycle=PROBE_BATCHES, trace_all=True)
        else:
            for req in gen.make_queries(self.fleet, len(gen.QUERY_MIX)):
                self._handlers[req["kind"]](req, traced=True)

    # -- tear-down ---------------------------------------------------------

    def stop(self) -> None:
        for q in getattr(self, "streams", []):
            try:
                q.stop()
            except Exception:
                pass
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
