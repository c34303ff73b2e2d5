"""Timestamp bucketing helpers.

``round_timestamp(ts, granularity)`` in the reference is integer floor
division on nanoseconds (gnocchi/carbonara.py:68-70).  Spark timestamps
are microsecond-precision; we do the same floor math on ``unix_micros``
so sub-second granularities work exactly.  Calendar (non-uniform)
granularities Y/H/Q/M/W (gnocchi/calendar.py:95-100) map to
``date_trunc`` plus a small expression for half-year.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

CALENDAR_GRANULARITIES = {"Y", "H", "Q", "M", "W", "D"}

# gnocchi/calendar.py:95-100 — Y=year, H=half, Q=quarter, M=month, W=week.
_DATE_TRUNC = {"Y": "year", "Q": "quarter", "M": "month", "D": "day"}

# the ISO forms whose cast to timestamp window_us reproduces; a trailing
# Z pins UTC, without it the session time zone must be UTC
_ISO = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})(?:[T ](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?(Z)?)?"
)
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_US = datetime.timedelta(microseconds=1)


def truncate_to_bucket(ts: Column, granularity: float | str) -> Column:
    """Floor ``ts`` to its bucket start for a fixed (seconds) or calendar
    granularity.  Stays a pure Column expression -> whole-stage codegen.

    ``W`` follows the reference's Sunday-start weeks
    (gnocchi/calendar.py:40-44 week_and_year), NOT ISO date_trunc('week');
    callers wanting ISO Monday weeks should use date_trunc directly."""
    if isinstance(granularity, str) and granularity in CALENDAR_GRANULARITIES:
        if granularity in ("H", "W"):
            from gnocchi_spark.functions.calendar import truncate_calendar

            return truncate_calendar(ts, granularity)
        return F.date_trunc(_DATE_TRUNC[granularity], ts)
    gran_us = int(round(float(granularity) * 1_000_000))
    if gran_us <= 0:
        raise ValueError(f"granularity must be positive, got {granularity!r}")
    us = F.unix_micros(ts)
    return F.timestamp_micros((us - us % F.lit(gran_us)).cast("long"))


def window_us(spark, start, stop, granularity=None) -> tuple[int | None, int | None] | None:
    """The window ``[start, stop)`` in epoch microseconds, exactly as the
    Spark plans compute it: each bound as ``F.lit(v).cast("timestamp")``
    reads it, and ``start`` floored to ``granularity`` (when given) as
    truncate_to_bucket does.  Returns ``(lo, hi)``, with None for an
    unset bound, or None when a bound is not reproduced here; the caller
    then keeps its Spark plan.

    Reproduced bounds: an ISO string (``YYYY-MM-DD``, optionally with
    ``[T ]HH:MM:SS``, up to six fractional digits and a trailing ``Z``;
    without ``Z`` the session time zone must be UTC) or a time-zone-aware
    datetime from 1900 on.  A naive datetime's cast depends on the
    process time zone, and a calendar granularity has no fixed width."""
    lo = hi = None
    if start is not None:
        lo = _bound_us(spark, start)
        if lo is None:
            return None
        if granularity is not None:
            seconds = granularity_seconds(granularity)
            step = 0 if seconds is None else int(round(seconds * 1_000_000))
            if step <= 0:
                return None
            # Spark's floor: us - us % step, with a remainder that takes the
            # sign of us (so pre-1970 bounds round toward zero, as there)
            rem = abs(lo) % step
            lo -= rem if lo >= 0 else -rem
    if stop is not None:
        hi = _bound_us(spark, stop)
        if hi is None:
            return None
    return lo, hi


def _bound_us(spark, v) -> int | None:
    """``v`` as epoch microseconds exactly as ``F.lit(v).cast("timestamp")``
    reads it, or None for a bound whose cast is not reproduced here."""
    if isinstance(v, datetime.datetime):
        # PySpark sends an aware datetime as its UTC instant
        if v.tzinfo is None or v.utcoffset() is None or v.year < 1900:
            return None
        return (v - _EPOCH) // _US
    if not isinstance(v, str):
        return None
    m = _ISO.fullmatch(v)
    if m is None:
        return None
    if not m.group(8) and spark.conf.get("spark.sql.session.timeZone") not in ("UTC", "Etc/UTC"):
        return None
    y, mo, d, h, mi, s = (int(g or 0) for g in m.groups()[:6])
    try:
        ts = datetime.datetime(y, mo, d, h, mi, s, tzinfo=datetime.timezone.utc)
    except ValueError:  # Spark casts an impossible date to NULL
        return None
    return (ts - _EPOCH) // _US + int((m.group(7) or "").ljust(6, "0"))


_REL_UNITS = {
    "s": 1.0, "sec": 1.0, "second": 1.0, "seconds": 1.0,
    "m": 60.0, "min": 60.0, "minute": 60.0, "minutes": 60.0,
    "h": 3600.0, "hour": 3600.0, "hours": 3600.0,
    "d": 86400.0, "day": 86400.0, "days": 86400.0,
    "w": 604800.0, "week": 604800.0, "weeks": 604800.0,
}


def parse_timestamp(value, now=None):
    """API timestamp parsing (reference ``gnocchi/utils.py:72-122``):
    accepts datetimes, epoch numbers, ISO-8601 strings, and relative
    offsets like ``"-10 seconds"`` / ``"+1h"`` resolved against ``now``.

    Driver-side (plan construction), so plain Python; returns a
    timezone-naive UTC datetime matching the engine's UTC session.
    """
    import datetime as dt
    import re

    if isinstance(value, dt.datetime):
        out = value
    elif isinstance(value, (int, float)):
        out = dt.datetime.fromtimestamp(float(value), tz=dt.timezone.utc)
    elif isinstance(value, str):
        s = value.strip()
        m = re.fullmatch(r"([+-])\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)", s)
        if m:
            sign, qty, unit = m.groups()
            if unit not in _REL_UNITS:
                raise ValueError(f"unknown time unit {unit!r}")
            delta = dt.timedelta(seconds=float(qty) * _REL_UNITS[unit])
            base = now or dt.datetime.now(dt.timezone.utc)
            out = base + delta if sign == "+" else base - delta
        else:
            try:
                out = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
            except ValueError:
                try:
                    out = dt.datetime.fromtimestamp(float(s), tz=dt.timezone.utc)
                except ValueError:
                    raise ValueError(f"unparseable timestamp {value!r}") from None
    else:
        raise ValueError(f"unparseable timestamp {value!r}")
    if out.tzinfo is not None:
        out = out.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return out


def granularity_label(granularity: float | str) -> str:
    """Stable string label for a granularity, used in rollup keys."""
    if isinstance(granularity, str) and granularity in CALENDAR_GRANULARITIES:
        return granularity
    g = float(granularity)
    return str(int(g)) if g.is_integer() else repr(g)


def granularity_seconds(granularity: float | str) -> float | None:
    """Numeric seconds for fixed granularities, None for calendar ones."""
    if isinstance(granularity, str) and granularity in CALENDAR_GRANULARITIES:
        return None
    return float(granularity)
