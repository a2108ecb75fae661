"""Property-based TSDB tests (hypothesis) — the randomized strategy of
the reference's storage suite (tests/timeseries_test.c:270-400:
randomized range queries, OOO inserts, point lookups) generalized over
arbitrary point sets.

The Spark round-trip is slow per example, so examples are kept small
and deadlines disabled; the *properties* are exactly the reference's
invariants:
- scans are timestamp-ascending and complete;
- BETWEEN is inclusive and returns exactly the in-range multiset;
- insertion order (including OOO and duplicate-ns points) never
  changes query results;
- sample_by bucket labels are interval multiples; boundary points
  belong to no bucket; bucket averages match a reference Python fold.
"""

from __future__ import annotations

import pytest
from hypothesis import given
from hypothesis import strategies as st

from raft_c_spark.operators import tsdb
from tests.harness import spark_property

BASE = 1_700_000_000 * 10**9

point_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**6),  # offset ns
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=1,
    max_size=40,
)


def _df(spark, pts):
    return spark.createDataFrame(
        [("s", BASE + off, v) for off, v in pts],
        "series string, timestamp long, value double",
    )


@given(pts=point_lists)
@spark_property(12)
def test_scan_is_sorted_and_complete(spark, pts):
    rows = tsdb.ts_scan(_df(spark, pts)).collect()
    got = [(r["timestamp"], r["value"]) for r in rows]
    assert sorted(got) == sorted((BASE + o, v) for o, v in pts)
    assert [t for t, _ in got] == sorted(t for t, _ in got)


@given(pts=point_lists, data=st.data())
@spark_property(12)
def test_range_inclusive_multiset(spark, pts, data):
    ts_values = sorted(BASE + o for o, _ in pts)
    t0 = data.draw(st.sampled_from(ts_values))
    t1 = data.draw(st.sampled_from([t for t in ts_values if t >= t0]))
    rows = tsdb.ts_range(_df(spark, pts), t0, t1).collect()
    got = sorted((r["timestamp"], r["value"]) for r in rows)
    expect = sorted(
        (BASE + o, v) for o, v in pts if t0 <= BASE + o <= t1
    )
    assert got == expect


@given(pts=point_lists, seed=st.integers(0, 2**16))
@spark_property(12)
def test_insertion_order_irrelevant(spark, pts, seed):
    """Shuffled (OOO) arrival produces identical scan results — the
    store-side analog of timeseries_test.c:310-400."""
    import random

    shuffled = pts[:]
    random.Random(seed).shuffle(shuffled)
    a = tsdb.ts_scan(_df(spark, pts)).collect()
    b = tsdb.ts_scan(_df(spark, shuffled)).collect()
    assert [(r["timestamp"], r["value"]) for r in a] == [
        (r["timestamp"], r["value"]) for r in b
    ]


@given(
    pts=point_lists,
    interval=st.sampled_from([10**3, 10**6, 10**9, 3600 * 10**9]),
)
@spark_property(12)
def test_sample_by_matches_reference_fold(spark, pts, interval):
    rows = tsdb.sample_by(_df(spark, pts), interval).collect()
    got = {r["bucket_ts"]: r["avg_value"] for r in rows}
    buckets: dict[int, list[float]] = {}
    for o, v in pts:
        t = BASE + o
        if t % interval == 0:
            continue  # boundary point in no bucket (exclusive bounds)
        buckets.setdefault(t - t % interval + interval, []).append(v)
    expect = {k: sum(vs) / len(vs) for k, vs in buckets.items()}
    assert got.keys() == expect.keys()
    for k in expect:
        assert got[k] == pytest.approx(expect[k], rel=1e-9, abs=1e-9)
    assert all(k % interval == 0 for k in got)


@given(pts=point_lists)
@spark_property(12)
def test_min_max_are_true_extremes(spark, pts):
    df = _df(spark, pts)
    lo = tsdb.ts_min(df, group_by_series=False).collect()[0]
    hi = tsdb.ts_max(df, group_by_series=False).collect()[0]
    vals = [v for _, v in pts]
    assert lo["value"] == min(vals)
    assert hi["value"] == max(vals)
    # tie rule: earliest timestamp among extreme values
    assert lo["timestamp"] == min(BASE + o for o, v in pts if v == min(vals))
    assert hi["timestamp"] == min(BASE + o for o, v in pts if v == max(vals))


@given(pts=point_lists)
@spark_property(12)
def test_sample_by_fill_consistent_with_sample_by(spark, pts):
    """Fill properties for any input: non-filled rows equal sample_by
    exactly; filled rows carry the most recent earlier bucket's value;
    the grid is gapless from each series' first to last bucket."""
    iv = 10_000  # 10 µs buckets over the ~1 ms offset space
    base = tsdb.sample_by(_df(spark, pts), iv).collect()
    if not base:
        return
    agg = {r["bucket_ts"]: r["avg_value"] for r in base}
    out = tsdb.sample_by_fill(_df(spark, pts), iv, fill="prev").collect()
    got = {r["bucket_ts"]: (r["avg_value"], r["filled"]) for r in out}
    lo, hi = min(agg), max(agg)
    assert sorted(got) == list(range(lo, hi + 1, iv))
    prev = None
    for b in sorted(got):
        if b in agg:
            assert got[b] == (agg[b], False)
            prev = agg[b]
        else:
            assert got[b] == (prev, True)
