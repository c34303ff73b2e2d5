"""Snapshot-isolated parquet store: manifest-pinned reads, optimistic
atomic commits, sack-granular merge rewrites.

Why this exists: it is the one table format every rollup lands in —
the streaming sinks (``foreachBatch(lambda df, _epoch:
store.merge(melt_rollup(df, methods, g)))`` and
``ingest.rate_rollup_batch``), the prebuilt history and compaction all
write through it.  Rewriting a plain parquet directory in place is
read-modify-OVERWRITE: the merged plan reads the very files the
overwrite deletes, a concurrent reader can catch the table
half-rewritten, and two writers can race.  This module avoids all
three the way modern table formats do (Iceberg/Delta — public designs;
implemented from scratch here):

- Data files are IMMUTABLE.  A commit writes new files and publishes a
  new manifest listing the table's complete file set; nothing a live
  manifest references is ever mutated or deleted.
- Readers pin a manifest version.  A DataFrame built from manifest v
  keeps computing correctly during any number of later commits.
- Writers race on an atomic version claim: manifest-{v+1}.json is
  created with O_EXCL, so exactly one writer wins a version; the loser
  gets StoreConflict and retries against the refreshed state
  (optimistic concurrency, no locks — the same protocol as the
  reference's tooz-based split swap but coordination-free).
- Merge rewrites are SACK-granular: data files are partitioned by
  sack = pmod(xxhash64(metric_id), num_sacks) (the reference's sack
  sharding, incoming/__init__.py:243-247), so upserting a batch only
  rewrites the sacks the batch touches; every other file is carried
  into the new manifest by reference.

On a real deployment root would be an object-store prefix; the local
filesystem here stands in for it (O_EXCL create ≙ conditional PUT).
Scale notes: a manifest lists file paths and the table schema — at 128
sacks x a few generations it is KBs; every commit writes one file per
sack it touches, and readers take the file list and schema from the
manifest, so a read neither lists directories nor infers a schema;
a read of a small pinned store can skip Spark altogether (read_local:
the driver scans the files with pyarrow); vacuum() bounds data-file
growth; the merge
plan reads only affected-sack files (manifest-level pruning, cheaper
than even parquet row-group pruning since unaffected files are never
opened).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import StructType


#: Largest pinned file set, in bytes on disk, that read_local scans on
#: the driver.  On a 4-core host pyarrow filters one series out of
#: perfbench's 1.3 MB store in ~3-5 ms and out of an 18.5 MB set of 8
#: files in ~50-60 ms, while a Spark read of the small store costs
#: ~150-250 ms of fixed job overhead: at the cap the driver still wins.
LOCAL_READ_MAX_BYTES = 16 * 1024 * 1024


class StoreConflict(Exception):
    """Another writer committed this version first; refresh and retry."""


# Test-only fault injection (r12): the restart tests set this to a
# callable that RAISES at a named crash point to prove a death between
# data-file write and manifest commit leaves the table untouched
# (orphan files only, swept by vacuum).  Always None in production.
_crash_hook = None


def _crash_point(name: str) -> None:
    if _crash_hook is not None:
        _crash_hook(name)


@dataclass(frozen=True)
class Manifest:
    version: int
    files: tuple[str, ...]  # paths relative to root
    # JSON of the committed frame's schema (sack excluded); None in
    # manifests written before the field existed, whose readers infer it
    schema: str | None = None

    @property
    def name(self) -> str:
        return f"manifest-{self.version:08d}.json"

    def struct(self) -> StructType | None:
        """The committed schema as a StructType (None if not recorded)."""
        return None if self.schema is None else StructType.fromJson(json.loads(self.schema))


class SnapshotFrame(ClassicDataFrame):
    """The bare frame SnapshotStore.read returns: the manifest's parquet
    scan, carrying its pin as ``store`` and ``manifest``.  Every
    transformation returns a plain DataFrame, so the pin (and the
    driver-local read tier it enables in get_measures) is dropped as
    soon as the frame is filtered, projected or joined."""

    store: "SnapshotStore"
    manifest: Manifest


def _sack_col(metric_col: str, num_sacks: int):
    return F.pmod(F.xxhash64(F.col(metric_col)), F.lit(num_sacks)).cast("int")


class SnapshotStore:
    def __init__(self, root: str, num_sacks: int = 32, metric_col: str = "metric_id"):
        self.root = root
        self.num_sacks = num_sacks
        self.metric_col = metric_col
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- manifest plumbing -------------------------------------------------

    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "manifests")

    def current(self) -> Manifest | None:
        """Latest committed manifest, or None for an empty store."""
        names = [
            n
            for n in os.listdir(self._manifest_dir())
            if n.startswith("manifest-") and n.endswith(".json")
        ]
        if not names:
            return None
        latest = max(names)
        with open(os.path.join(self._manifest_dir(), latest)) as f:
            doc = json.load(f)
        schema = doc.get("schema")
        return Manifest(
            version=doc["version"],
            files=tuple(doc["files"]),
            schema=json.dumps(schema) if schema is not None else None,
        )

    def _commit(
        self,
        base: Manifest | None,
        add: Sequence[str],
        remove: Sequence[str] = (),
        schema: str | None = None,
    ) -> Manifest:
        """Publish base.files - remove + add as version base+1, recording
        the committed frame's ``schema`` for readers.

        O_EXCL create is the atomic claim: if another writer already
        published this version, raise StoreConflict WITHOUT touching
        any state — the caller's new data files are orphans that
        vacuum() sweeps later (never a torn table).
        """
        version = (base.version if base else 0) + 1
        files = tuple(
            [p for p in (base.files if base else ()) if p not in set(remove)]
            + list(add)
        )
        m = Manifest(version=version, files=files, schema=schema)
        doc = {"version": version, "files": list(files), "committed_at": time.time()}
        if schema is not None:
            doc["schema"] = json.loads(schema)
        path = os.path.join(self._manifest_dir(), m.name)
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            raise StoreConflict(f"version {version} already committed")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(doc))
            f.flush()
            os.fsync(f.fileno())
        return m

    # -- data-file plumbing ------------------------------------------------

    def _write_data(self, df: DataFrame) -> tuple[list[str], str]:
        """Write df under a fresh commit token as ONE parquet file per
        sack directory; return the relative paths of the files produced
        (never visible to readers until a manifest references them) and
        the JSON schema of the rows they hold.

        ``sack`` is (re)derived from the metric column here — reading
        manifest leaf files directly does not recover partition-dir
        columns, so sack deliberately lives only in the directory
        layout and is recomputed (deterministic hash) on every write.
        One file per sack keeps a manifest at most ``num_sacks`` files
        per commit generation, so readers list it on the driver.
        """
        token = uuid.uuid4().hex[:12]
        out = os.path.join(self.root, "data", token)
        if "sack" in df.columns:
            df = df.drop("sack")
        schema = json.dumps(df.schema.jsonValue())
        df = df.withColumn("sack", _sack_col(self.metric_col, self.num_sacks))
        df.repartition(self.num_sacks, "sack").write.mode(
            "errorifexists"
        ).partitionBy("sack").parquet(out)
        rel = []
        for dirpath, _dirs, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    rel.append(
                        os.path.relpath(os.path.join(dirpath, n), self.root)
                    )
        return sorted(rel), schema

    def _abs(self, rel_files: Sequence[str]) -> list[str]:
        return [os.path.join(self.root, p) for p in rel_files]

    def _scan(
        self, spark: SparkSession, m: Manifest, files: Sequence[str] | None = None
    ) -> DataFrame:
        """Parquet scan of ``files`` (default: all of m's).  With the
        manifest's schema no inference job runs; older manifests infer."""
        reader = spark.read
        if m.schema is not None:
            reader = reader.schema(m.struct())
        return reader.parquet(*self._abs(m.files if files is None else files))

    @staticmethod
    def _file_sack(rel_path: str) -> int | None:
        for part in rel_path.split(os.sep):
            if part.startswith("sack="):
                return int(part.split("=", 1)[1])
        return None

    # -- public API --------------------------------------------------------

    def read(
        self, spark: SparkSession, manifest: Manifest | None = None
    ) -> SnapshotFrame | None:
        """DataFrame over a pinned manifest (default: latest); None for
        an empty store.  The returned plan never changes under later
        commits — that IS the snapshot isolation.  The frame is a
        SnapshotFrame that carries the pin (store, manifest)."""
        m = manifest if manifest is not None else self.current()
        if m is None or not m.files:
            return None
        scan = self._scan(spark, m)
        out = SnapshotFrame(scan._jdf, scan.sparkSession)
        out.store, out.manifest = self, m
        return out

    def read_local(self, m: Manifest, columns: Sequence[str], filters: list):
        """pyarrow Table of ``columns`` over m's files, read on the
        driver with pyarrow ``filters`` (DNF tuples) pushed into the
        scan, typed by the manifest's schema (timestamps as UTC
        microseconds, as Spark's Arrow conversion expects).

        None when m records no schema, or when its files together
        exceed LOCAL_READ_MAX_BYTES on disk; the caller then reads with
        Spark.  Sizes come from os.stat of the listed paths: nothing is
        listed and no Spark job runs."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = m.struct()
        if schema is None:
            return None
        paths = self._abs(m.files)
        if sum(os.stat(p).st_size for p in paths) > LOCAL_READ_MAX_BYTES:
            return None
        return pq.read_table(
            paths, schema=to_arrow_schema(schema), columns=list(columns), filters=filters
        )

    def append(self, df: DataFrame, max_retries: int = 5) -> Manifest:
        """Append-only commit (frozen splits, immutable aggregates).
        Conflicts only race on the version number, so retry is free —
        the data files are written once and reused."""
        files, schema = self._write_data(df)
        for _ in range(max_retries):
            try:
                return self._commit(self.current(), add=files, schema=schema)
            except StoreConflict:
                continue
        raise StoreConflict("append: version race did not settle")

    def merge(
        self,
        batch: DataFrame,
        key_cols: Sequence[str] = ("metric_id", "granularity", "bucket_ts"),
        max_retries: int = 3,
    ) -> Manifest | None:
        """Upsert ``batch`` by ``key_cols`` (MERGE semantics: batch row
        wins over stored row with equal keys), rewriting ONLY the data
        files of sacks the batch touches.  An empty batch touches no
        sack: it writes and commits nothing and returns the current
        manifest (None for an empty store).

        Unlike an in-place overwrite, the plan reads old
        files that stay on disk until vacuum — no self-read cycle, no
        reader ever sees a partial table.  On conflict the merge is
        recomputed against the refreshed snapshot (the loser's work is
        discarded — correctness over wasted effort).
        """
        sacks = {
            r[0]
            for r in batch.select(
                _sack_col(self.metric_col, self.num_sacks).alias("sack")
            )
            .distinct()
            .collect()
        }
        for _ in range(max_retries):
            base = self.current()
            if not sacks:
                return base
            if base is None:
                try:
                    files, schema = self._write_data(batch)
                    return self._commit(None, add=files, schema=schema)
                except StoreConflict:
                    continue
            touched = [p for p in base.files if self._file_sack(p) in sacks]
            if touched:
                existing = self._scan(batch.sparkSession, base, touched)
                keep = existing.join(
                    batch.select(*key_cols).distinct(),
                    on=list(key_cols),
                    how="left_anti",
                )
                merged = keep.unionByName(batch)
            else:
                merged = batch
            files, schema = self._write_data(merged)
            _crash_point("store:pre-commit")
            try:
                return self._commit(base, add=files, remove=touched, schema=schema)
            except StoreConflict:
                continue
        raise StoreConflict("merge: lost the version race repeatedly")

    def compact(self, max_retries: int = 3) -> Manifest:
        """Rewrite the current file set as one file per sack (frozen-
        split compaction, carbonara-style many-small-splits cure) —
        same optimistic commit; readers of older manifests unaffected."""
        for _ in range(max_retries):
            base = self.current()
            if base is None:
                raise ValueError("compact: empty store")
            files, schema = self._write_data(
                self._scan(SparkSession.getActiveSession(), base)
            )
            try:
                return self._commit(
                    base, add=files, remove=list(base.files), schema=schema
                )
            except StoreConflict:
                continue
        raise StoreConflict("compact: lost the version race repeatedly")

    def vacuum(self, keep_versions: int = 2) -> list[str]:
        """Delete manifests older than the newest ``keep_versions`` and
        any data file no kept manifest references (covers commit-loser
        orphans too).  Run only when pinned readers older than the
        horizon are done — the same contract as Iceberg's
        expire_snapshots."""
        names = sorted(
            n
            for n in os.listdir(self._manifest_dir())
            if n.startswith("manifest-") and n.endswith(".json")
        )
        keep, drop = names[-keep_versions:], names[:-keep_versions]
        referenced: set[str] = set()
        for n in keep:
            with open(os.path.join(self._manifest_dir(), n)) as f:
                referenced.update(json.load(f)["files"])
        removed = []
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirs, fnames in os.walk(data_root):
            for fn in fnames:
                rel = os.path.relpath(os.path.join(dirpath, fn), self.root)
                if fn.endswith(".parquet") and rel not in referenced:
                    os.remove(os.path.join(self.root, rel))
                    removed.append(rel)
        for n in drop:
            os.remove(os.path.join(self._manifest_dir(), n))
        # sweep now-empty commit-token directories
        for dirpath, dirs, fnames in list(os.walk(data_root, topdown=False)):
            if dirpath != data_root and not dirs and not fnames:
                shutil.rmtree(dirpath, ignore_errors=True)
        return removed

