"""DuckDB oracle: every result the program serves is recomputed here from
the raw measures the benchmark delivered, and compared value by value.

Timestamps are integer microseconds since the epoch throughout, so no
time-zone or timestamp-flavour conversion sits between the two engines.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

from gen import US

REL_TOL = 1e-9
ABS_TOL = 1e-12

# the store's default aggregation methods, as DuckDB aggregates over raw
# points (std is the sample std, absent for single-point buckets)
_RAW_AGG = {
    "count": "count(*)::DOUBLE",
    "max": "max(value)",
    "mean": "avg(value)",
    "min": "min(value)",
    "std": "stddev_samp(value)",
    "sum": "sum(value)",
}
# re-aggregating bucket values with the same method (get_measures
# resample); counts re-aggregate by summation
_RESAMPLE_AGG = {"count": "sum(v)", "max": "max(v)", "mean": "avg(v)", "min": "min(v)", "sum": "sum(v)"}
# cross-series aggregation (the operations DSL's nan-aware kernels)
_CROSS_AGG = {"mean": "avg(v)", "max": "max(v)", "min": "min(v)", "sum": "sum(v)"}


def close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Rows are (*keys, value); keys must match exactly, values closely."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=lambda r: r[:-1]), sorted(want, key=lambda r: r[:-1])):
        if g[:-1] != w[:-1] or not close(g[-1], w[-1]):
            return False
    return True


def _quote(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _filter_sql(node: dict) -> str:
    """The filter-DSL subset the generator emits, as SQL."""
    (op, arg), = node.items()
    if op in ("and", "or"):
        return "(" + f" {op.upper()} ".join(_filter_sql(n) for n in arg) + ")"
    (attr, val), = arg.items()
    if op == "=":
        return f"{attr} = {_quote(val)}"
    if op == "!=":
        return f"({attr} IS NULL OR {attr} != {_quote(val)})"
    if op == "in":
        return f"{attr} IN ({', '.join(_quote(v) for v in val)})"
    raise ValueError(f"unsupported filter operator {op!r}")


class Oracle:
    def __init__(self, fleet):
        self.con = duckdb.connect(config={"threads": 1})
        self.con.execute("CREATE TABLE raw(metric_id VARCHAR, ts BIGINT, value DOUBLE)")
        self.con.register(
            "metrics_v",
            pa.table(
                {
                    "metric_id": [m[0] for m in fleet.metrics],
                    "resource_id": [m[1] for m in fleet.metrics],
                    "name": [m[2] for m in fleet.metrics],
                }
            ),
        )
        self.con.execute("CREATE TABLE metrics AS SELECT * FROM metrics_v")
        revs = fleet.revisions
        self.con.register(
            "revisions_v",
            pa.table(
                {
                    "resource_id": [r["resource_id"] for r in revs],
                    "rs": [r["revision_start"] for r in revs],
                    "re": pa.array([r["revision_end"] for r in revs], pa.int64()),
                    "project": [r["project"] for r in revs],
                    "flavor": [r["flavor"] for r in revs],
                    "host": [r["host"] for r in revs],
                }
            ),
        )
        self.con.execute("CREATE TABLE revisions AS SELECT * FROM revisions_v")
        self.con.register("resources_v", pa.Table.from_pylist(fleet.resources))
        self.con.execute("CREATE TABLE resources AS SELECT * FROM resources_v")
        self.n_raw = 0

    def add(self, mids: list[str], tss: list[int], vals: list[float]) -> None:
        self.con.register(
            "incoming", pa.table({"metric_id": mids, "ts": pa.array(tss, pa.int64()), "value": vals})
        )
        self.con.execute("INSERT INTO raw SELECT * FROM incoming")
        self.con.unregister("incoming")
        self.n_raw += len(mids)

    def search(self, node: dict) -> list[str]:
        sql = f"SELECT resource_id FROM resources WHERE {_filter_sql(node)} ORDER BY 1"
        return [r[0] for r in self.con.execute(sql).fetchall()]

    def _buckets(self, method: str, g_s: float, where: str) -> str:
        G = int(g_s * US)
        return (
            f"SELECT metric_id, ts - ts % {G} AS b, {_RAW_AGG[method]} AS v "
            f"FROM raw WHERE {where} GROUP BY 1, 2"
        )

    def point_read(self, mid, method, g_s, start_us, stop_us, resample_s=None) -> list[tuple]:
        lo = start_us - start_us % int((resample_s or g_s) * US)
        b = self._buckets(method, g_s, "metric_id = $mid")
        sel = f"SELECT b, v FROM ({b}) WHERE b >= {lo} AND b < {stop_us} AND v IS NOT NULL"
        if resample_s:
            R = int(resample_s * US)
            sel = f"SELECT b - b % {R} AS b, {_RESAMPLE_AGG[method]} AS v FROM ({sel}) GROUP BY 1"
        return [tuple(r) for r in self.con.execute(sel + " ORDER BY 1", {"mid": mid}).fetchall()]

    def aggregate(self, mids, method, cross, g_s, start_us, stop_us) -> list[tuple]:
        ids = ", ".join(f"'{m}'" for m in mids)
        b = self._buckets(method, g_s, f"metric_id IN ({ids})")
        sql = (
            f"SELECT b, {_CROSS_AGG[cross]} FROM ({b}) "
            f"WHERE b >= {start_us} AND b < {stop_us} GROUP BY 1 ORDER BY 1"
        )
        return [tuple(r) for r in self.con.execute(sql).fetchall()]

    def groupby(self, resource_ids, name, method, attr, g_s, start_us, stop_us) -> list[tuple]:
        """The history-weighted group-by: a bucket contributes to the
        group of each revision it overlaps, weighted by the overlap of
        the bucket with the revision's search window over the
        granularity; a resource's first revision in the period opens to
        the query start."""
        G = int(g_s * US)
        rids = ", ".join(f"'{r}'" for r in resource_ids)
        sql = f"""
        WITH rv AS (
          SELECT *, row_number() OVER (PARTITION BY resource_id ORDER BY rs) AS rn
          FROM revisions
          WHERE resource_id IN ({rids}) AND rs < {stop_us} AND (re IS NULL OR re >= {start_us})
        ), win AS (
          SELECT resource_id, {attr} AS grp,
                 CASE WHEN rn = 1 THEN {start_us} ELSE greatest(rs, {start_us}) END AS ss,
                 CASE WHEN re IS NULL THEN {stop_us} ELSE least(re, {stop_us}) END AS se
          FROM rv
        ), b AS (
          SELECT m.resource_id, x.b, x.v FROM ({self._buckets(method, g_s, "true")}) x
          JOIN metrics m USING (metric_id)
          WHERE m.name = '{name}' AND m.resource_id IN ({rids})
            AND x.b >= {start_us} AND x.b < {stop_us}
        )
        SELECT w.grp, b.b, sum(b.v * ((least(w.se, b.b + {G}) - greatest(w.ss, b.b))::DOUBLE / {G}))
        FROM b JOIN win w ON b.resource_id = w.resource_id AND b.b < w.se AND b.b + {G} > w.ss
        GROUP BY 1, 2 ORDER BY 1, 2
        """
        return [tuple(r) for r in self.con.execute(sql).fetchall()]

    def store_mismatches(self, files: list[str], g_s: float, label: str) -> tuple[int, int]:
        """Compare a store's data files (the live manifest's file set)
        with the rollup of every delivered measure.  Returns (rows in
        the store, rows that are missing, extra, duplicated or wrong)."""
        G = int(g_s * US)
        expected = " UNION ALL ".join(
            f"SELECT metric_id, '{m}' AS method, ts - ts % {G} AS b, {agg} AS v FROM raw GROUP BY 1, 3"
            for m, agg in _RAW_AGG.items()
        )
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE got AS SELECT metric_id, method, granularity, "
            "epoch_us(bucket_ts) AS b, value AS v FROM read_parquet($files, hive_partitioning=false)",
            {"files": files},
        )
        n_got, dup, bad_label = self.con.execute(
            "SELECT count(*), count(*) - count(DISTINCT (metric_id, method, b)), "
            "count(*) FILTER (WHERE granularity IS DISTINCT FROM $label) FROM got",
            {"label": label},
        ).fetchone()
        wrong = self.con.execute(
            f"""
            WITH e AS (SELECT * FROM ({expected}) WHERE v IS NOT NULL)
            SELECT count(*) FROM e FULL OUTER JOIN got g USING (metric_id, method, b)
            WHERE e.v IS NULL OR g.v IS NULL
               OR abs(e.v - g.v) > greatest({REL_TOL} * greatest(abs(e.v), abs(g.v)), {ABS_TOL})
            """
        ).fetchone()[0]
        self.con.execute("DROP TABLE got")
        return n_got, wrong + dup + bad_label
