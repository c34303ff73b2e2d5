"""Seeded input generator: a fleet of resources and metrics, six hours of
history, a stream of REST batch-JSON ingest files, and read requests.

Everything is a pure function of the seed and the size arguments, made
with ``random.Random`` only, so a change to the program under test can
never change the inputs.  The program sees the generated files and
DataFrames, nothing else.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
import uuid
from dataclasses import dataclass, field

METRIC_NAMES = ("cpu_util", "memory_usage", "disk_iops", "net_in_bytes", "net_out_bytes")
PROJECTS = tuple(f"project-{i}" for i in range(4))
FLAVORS = ("m1.small", "m1.medium", "m1.large")
HOSTS = tuple(f"host-{i:02d}" for i in range(8))
ATTRS = ("project", "flavor", "host")

POINT_S = 30  # one raw point per metric every 30 s
BATCH_S = 300  # one ingest batch carries the next 5 minutes
LATE_SHARE = 0.05  # late points per batch, as a share of its on-time points
MAX_LATE_S = 1800  # late points are at most 30 min behind the newest point
HISTORY_S = 6 * 3600  # six hours of history
# The history ends on an hour boundary, so no streamed bucket of either
# granularity (60 s, 3600 s) overlaps a prebuilt one.
HISTORY_END = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
US = 1_000_000
HISTORY_END_US = int(HISTORY_END.timestamp()) * US
HISTORY_START_US = HISTORY_END_US - HISTORY_S * US


def iso(ts_us: int) -> str:
    """The wire timestamp format parse_batch_measures_json decodes."""
    t = dt.datetime.fromtimestamp(ts_us / US, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


@dataclass
class Fleet:
    seed: int
    resources: list[dict]  # resource_id + current attributes
    revisions: list[dict]  # resource_id, revision_start/_end (us), attributes
    metrics: list[tuple[str, str, str]]  # (metric_id, resource_id, name)
    base: list[float]  # per-metric level the values wander around

    @property
    def metric_ids(self) -> list[str]:
        return [m[0] for m in self.metrics]


@dataclass
class Batch:
    index: int
    body: bytes  # the landing file: one REST batch-JSON document per line
    measures: list[tuple[str, int, float]]  # (metric_id, ts_us, value)
    newest_us: int


def make_fleet(seed: int, n_resources: int) -> Fleet:
    rng = random.Random(f"fleet/{seed}")
    resources, revisions, metrics, base = [], [], [], []
    for _ in range(n_resources):
        rid = _uuid(rng)
        attrs = {
            "project": rng.choice(PROJECTS),
            "flavor": rng.choice(FLAVORS),
            "host": rng.choice(HOSTS),
        }
        # 0-3 attribute revisions inside the history; the first version
        # starts a day before the history opens
        n_rev = rng.randint(0, 3)
        cuts = sorted(
            HISTORY_START_US + rng.randrange(1, HISTORY_S) * US for _ in range(n_rev)
        )
        start = HISTORY_START_US - 86400 * US
        for end in cuts + [None]:
            revisions.append(
                {"resource_id": rid, "revision_start": start, "revision_end": end, **attrs}
            )
            if end is not None:
                changed = rng.choice(("flavor", "host"))
                pool = FLAVORS if changed == "flavor" else HOSTS
                attrs = {**attrs, changed: rng.choice([v for v in pool if v != attrs[changed]])}
                start = end
        resources.append({"resource_id": rid, **attrs})
        for name in METRIC_NAMES:
            metrics.append((_uuid(rng), rid, name))
            base.append(round(rng.uniform(20.0, 80.0), 3))
    return Fleet(seed, resources, revisions, metrics, base)


def _value(rng: random.Random, base: float) -> float:
    # strictly positive and never near zero, so relative comparison is sound
    return round(base + rng.uniform(-15.0, 15.0), 3)


def history_columns(fleet: Fleet) -> tuple[list[str], list[int], list[float]]:
    """The history's raw measures at one point per 30 s for every metric,
    as parallel columns (metric_id, ts_us, value)."""
    rng = random.Random(f"history/{fleet.seed}")
    mids, tss, vals = [], [], []
    n_points = HISTORY_S // POINT_S
    for (mid, _rid, _name), b in zip(fleet.metrics, fleet.base):
        for i in range(n_points):
            mids.append(mid)
            tss.append(HISTORY_START_US + i * POINT_S * US)
            vals.append(_value(rng, b))
    return mids, tss, vals


@dataclass
class BatchStream:
    """Batch k carries [end + 300k, end + 300(k+1)) for every metric plus
    ~5% late points up to 30 min behind the batch's newest point.  Late
    points sit off the 30 s grid and never before the history end, so
    they neither collide with another point nor touch a prebuilt bucket."""

    fleet: Fleet
    _seen_late: set = field(default_factory=set)
    _next: int = 0

    def next_batch(self) -> Batch:
        k = self._next
        self._next += 1
        rng = random.Random(f"batch/{self.fleet.seed}/{k}")
        lo = HISTORY_END_US + k * BATCH_S * US
        newest = lo + (BATCH_S - POINT_S) * US
        metrics = self.fleet.metrics
        per_metric: dict[str, list[tuple[int, float]]] = {}
        for (mid, _rid, _name), b in zip(metrics, self.fleet.base):
            per_metric[mid] = [
                (lo + i * POINT_S * US, _value(rng, b)) for i in range(BATCH_S // POINT_S)
            ]
        n_late = round(LATE_SHARE * len(metrics) * (BATCH_S // POINT_S))
        floor_us = HISTORY_END_US
        while n_late:
            i = rng.randrange(len(metrics))
            lag_s = rng.randint(POINT_S, MAX_LATE_S)
            ts = newest - lag_s * US
            if ts < floor_us or (ts // US) % POINT_S == 0:
                continue
            mid = self.fleet.metrics[i][0]
            if (mid, ts) in self._seen_late:
                continue
            self._seen_late.add((mid, ts))
            per_metric[mid].append((ts, _value(rng, self.fleet.base[i])))
            n_late -= 1
        lines, measures = [], []
        by_resource: dict[str, dict] = {}
        for mid, rid, _name in metrics:
            pts = per_metric[mid]
            by_resource.setdefault(rid, {})[mid] = [
                {"timestamp": iso(t), "value": v} for t, v in pts
            ]
            measures.extend((mid, t, v) for t, v in pts)
        for doc in by_resource.values():
            lines.append(json.dumps(doc, separators=(",", ":")))
        return Batch(k, ("\n".join(lines) + "\n").encode(), measures, newest)


def digest(fleet: Fleet, n_batches: int) -> str:
    """sha256 over every generated input: fleet, history and the first
    ``n_batches`` landing files."""
    h = hashlib.sha256()
    h.update(json.dumps([fleet.resources, fleet.revisions, fleet.metrics, fleet.base]).encode())
    for col in history_columns(fleet):
        h.update(json.dumps(col).encode())
    stream = BatchStream(fleet)
    for _ in range(n_batches):
        h.update(stream.next_batch().body)
    return h.hexdigest()


# -- read requests ---------------------------------------------------------

#: the query workload's fixed interleaving of the three read shapes
#: (a point read first, so the first aggregate does not also pay the
#: read path's lazy start-up)
QUERY_MIX = ("point", "aggregate", "point", "groupby")
#: Request shapes cycle in a fixed order whatever the seed, so that runs
#: of different seeds measure the same mix of costs; the seed picks the
#: metrics, methods, predicates and window offsets.
#: point reads: (granularity s, window hours, resample s)
POINT_SHAPES = ((60.0, 2, None), (3600.0, 6, None), (60.0, 4, 600.0))
#: every 4th point read repeats an earlier one exactly
REPEAT_EVERY = 4
#: aggregates: (metrics searched, granularity s, window hours)
#: (cross-metric aggregates read the 3600 s store; point reads cover both)
AGGREGATE_SHAPES = ((4, 3600.0, 6), (2, 3600.0, 6), (6, 3600.0, 4), (3, 3600.0, 6),
                    (8, 3600.0, 6), (5, 3600.0, 3), (10, 3600.0, 6), (7, 3600.0, 4), (9, 3600.0, 6))
#: group-bys at 3600 s: (attribute, window hours)
GROUPBY_SHAPES = (("flavor", 6), ("host", 4), ("project", 6))
READ_METHODS = ("mean", "max", "min", "sum", "count", "std")
ZIPF_S = 1.1


def _hour(h: int) -> int:
    return HISTORY_START_US + h * 3600 * US


def matches(node: dict, res: dict) -> bool:
    """Python evaluation of the filter predicates the generator emits;
    used only to pick predicates with a wanted match count."""
    (op, arg), = node.items()
    if op == "and":
        return all(matches(n, res) for n in arg)
    if op == "or":
        return any(matches(n, res) for n in arg)
    (attr, val), = arg.items()
    if op == "=":
        return res[attr] == val
    if op == "!=":
        return res[attr] != val
    if op == "in":
        return res[attr] in val
    raise ValueError(op)


def _predicate(rng: random.Random) -> dict:
    shape = rng.randrange(5)
    if shape == 0:
        return {"=": {"flavor": rng.choice(FLAVORS)}}
    if shape == 1:
        return {"=": {"project": rng.choice(PROJECTS)}}
    if shape == 2:
        return {"in": {"host": rng.sample(HOSTS, rng.randint(2, 4))}}
    if shape == 3:
        return {"and": [{"=": {"project": rng.choice(PROJECTS)}}, {"!=": {"flavor": rng.choice(FLAVORS)}}]}
    return {"or": [{"=": {"host": rng.choice(HOSTS)}}, {"=": {"flavor": rng.choice(FLAVORS)}}]}


def _search(rng: random.Random, fleet: Fleet, lo: int, hi: int) -> dict:
    for _ in range(5000):
        node = _predicate(rng)
        if lo <= sum(matches(node, r) for r in fleet.resources) <= hi:
            return node
    raise ValueError("fleet too small for a search with the wanted match count")


def _search_exact(rng: random.Random, fleet: Fleet, size: int) -> dict:
    """A predicate matching ``size`` resources, or one more or fewer
    when the fleet has no exact match."""
    try:
        return _search(rng, fleet, size, size)
    except ValueError:
        return _search(rng, fleet, max(2, size - 1), min(10, size + 1))


def _window(rng: random.Random, hours: int) -> dict:
    start_h = rng.randint(0, HISTORY_S // 3600 - hours)
    return {"start_us": _hour(start_h), "stop_us": _hour(start_h + hours)}


def make_queries(fleet: Fleet, n: int) -> list[dict]:
    """``n`` read requests in the fixed QUERY_MIX order.  Point reads
    pick metrics Zipf(1.1) over a seeded ranking, with windows across
    the whole history, some resampled; a quarter repeat an earlier point
    request exactly.  Aggregates search 2-10 metrics by a filter-DSL
    predicate; group-bys group by a resource attribute over revisions."""
    rng = random.Random(f"queries/{fleet.seed}")
    ranked = list(range(len(fleet.metrics)))
    rng.shuffle(ranked)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(ranked))]
    out: list[dict] = []
    count = {"point": 0, "aggregate": 0, "groupby": 0}
    fresh_by_shape: dict[int, list[dict]] = {}
    for i in range(n):
        kind = QUERY_MIX[i % len(QUERY_MIX)]
        j = count[kind]
        count[kind] += 1
        if kind == "point":
            shape = j % len(POINT_SHAPES)
            earlier = fresh_by_shape.get(shape)
            if j % REPEAT_EVERY == REPEAT_EVERY - 1 and earlier:
                out.append(dict(rng.choice(earlier)))
                continue
            g, hours, resample = POINT_SHAPES[shape]
            m = ranked[rng.choices(range(len(ranked)), weights)[0]]
            method = rng.choice(READ_METHODS if resample is None else READ_METHODS[:-1])
            req = {
                "kind": "point", "metric_id": fleet.metrics[m][0], "method": method,
                "granularity": g, "resample": resample, **_window(rng, hours),
            }
            fresh_by_shape.setdefault(shape, []).append(req)
        elif kind == "aggregate":
            size, g, hours = AGGREGATE_SHAPES[j % len(AGGREGATE_SHAPES)]
            req = {
                "kind": "aggregate", "filter": _search_exact(rng, fleet, size),
                "name": rng.choice(METRIC_NAMES), "method": "mean",
                "cross": rng.choice(("mean", "max", "sum")), "granularity": g,
                **_window(rng, hours),
            }
        else:
            attr, hours = GROUPBY_SHAPES[j % len(GROUPBY_SHAPES)]
            req = {
                "kind": "groupby", "filter": _search(rng, fleet, 3, len(fleet.resources)),
                "name": rng.choice(METRIC_NAMES), "method": "mean", "attr": attr,
                "granularity": 3600.0, **_window(rng, hours),
            }
        out.append(req)
    return out
