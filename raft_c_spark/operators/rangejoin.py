"""Interval (range) join: match point rows to interval rows on a key
with ``start ≤ ts ≤ end``.

Spark has no native range join; a naive theta-join degenerates to a
per-key cartesian product. The scalable composition bucketizes time:
each interval explodes into the fixed-width buckets it covers, points
map to their bucket, and the match becomes an equi-join on
(key, bucket) + an exact bound filter + dedup. Cost is
O(points + intervals·span/bucket) shuffled by (key, bucket) — skew
bounded by bucket width, no cartesian blowup.

Bucket width trades explosion factor (long intervals → many buckets)
against join fan-in (too-wide buckets → more false candidates);
callers pick it near the median interval length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    ts_col: str = "timestamp",
    start_col: str = "start",
    end_col: str = "end",
    bucket_ns: int = 3_600_000_000_000,
) -> DataFrame:
    """Inner join of each point to every interval of the same key
    containing it (inclusive bounds); a point inside no interval has
    no output row."""
    p = points.withColumn("_bucket", F.expr(f"{ts_col} div {bucket_ns}L"))
    iv_cols = [c for c in intervals.columns]
    # inverted intervals (end < start) match nothing — filtered BEFORE
    # the bucket explode (F.sequence on a descending pair generates
    # the whole DESCENDING bucket list — one corrupt row exploded ~half
    # a million rows per epoch-magnitude inversion before the bound
    # filter discarded them all)
    iv = (
        intervals.filter(F.col(end_col) >= F.col(start_col))
        .withColumn(
            "_buckets",
            F.sequence(
                F.expr(f"{start_col} div {bucket_ns}L"),
                F.expr(f"{end_col} div {bucket_ns}L"),
            ),
        )
        .select(*iv_cols, F.explode("_buckets").alias("_bucket"))
    )
    cond = (
        (p[key] == iv[key])
        & (p["_bucket"] == iv["_bucket"])
        & (F.col(ts_col) >= F.col(start_col))
        & (F.col(ts_col) <= F.col(end_col))
    )
    joined = p.join(iv, cond, "inner").drop(iv[key]).drop(iv["_bucket"])
    return joined.drop("_bucket")
