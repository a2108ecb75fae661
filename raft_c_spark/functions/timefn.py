"""Nanosecond time helpers.

The engine's timestamps are LongType nanoseconds (reference:
uint64 ns, src/timeseries.h:52; split sec/nsec at
src/timeseries.c:627-628). Epoch-ns values (~1.7e18) exceed the
53-bit exact-integer range of double, so every helper here uses
integer ``div``/``%`` — never float division.
"""

from __future__ import annotations

import datetime as _dt
import time

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Timespan units accepted by the query language (lexer
#: src/statement_parse.c:243-273; timespan_seconds src/timeutil.c:50-73).
NS_PER_UNIT: dict[str, int] = {
    "ns": 1,
    "us": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60 * 1_000_000_000,
    "h": 3600 * 1_000_000_000,
    "d": 86400 * 1_000_000_000,
}


def span_to_ns(amount: float, unit: str) -> int:
    """``3ms`` / ``2d`` → nanoseconds (src/timeutil.c:50-73)."""
    try:
        return int(amount * NS_PER_UNIT[unit])
    except KeyError:
        raise ValueError(f"unknown timespan unit {unit!r}") from None


def now_ns() -> int:
    """``now()`` → current epoch ns (current_nanos, src/timeutil.c:13-20)."""
    return time.time_ns()


def datetime_to_ns(s: str) -> int:
    """Date/datetime literal → epoch ns, midnight default, optional
    fractional seconds (datetime_seconds, src/timeutil.c:75-133).

    Accepted forms: ``YYYY-MM-DD``, ``YYYY-MM-DD HH:MM:SS``,
    ``YYYY-MM-DD HH:MM:SS.fraction`` (fraction up to 9 digits).
    Interpreted as UTC.
    """
    s = s.strip()
    frac_ns = 0
    if "." in s:
        base, frac = s.split(".", 1)
        if not (frac.isdigit() and len(frac) <= 9):
            raise ValueError(f"bad fractional seconds in {s!r}")
        frac_ns = int(frac.ljust(9, "0"))
        s = base
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            dt = _dt.datetime.strptime(s, fmt).replace(tzinfo=_dt.timezone.utc)
            return int(dt.timestamp()) * 1_000_000_000 + frac_ns
        except ValueError:
            continue
    raise ValueError(f"unparseable datetime literal {s!r}")


def to_ns(col: Column) -> Column:
    """Cast a (µs-precision) timestamp column to epoch nanoseconds."""
    return (F.unix_micros(col) * F.lit(1000)).cast("long")


def bucket_end(ts_col: Column, interval_ns: int) -> Column:
    """Tumbling-bucket *end* label for SAMPLE BY semantics
    (ts_avg_sample, src/timeseries.c:1265-1308): the bucket of point p
    is ``(end-interval, end)`` exclusive on both ends, so
    ``end = floor(p/interval)*interval + interval`` for p not on a
    boundary; boundary points (p % interval == 0) belong to no bucket
    and must be filtered out by the caller.

    Integer arithmetic only (see module docstring).
    """
    iv = F.lit(interval_ns).cast("long")
    t = ts_col.cast("long")
    # floor(p/iv)*iv == p - p % iv for non-negative p, all-integer ops
    return (t - (t % iv) + iv).cast("long")
