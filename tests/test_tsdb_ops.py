"""Core TSDB operator tests — semantics mirrored from the reference's
storage suite (tests/timeseries_test.c, SURVEY §5) plus DuckDB oracle
cross-checks on the driver's events table; delta/rate and LTTB
downsampling against pure-python replays."""

from __future__ import annotations

import pytest
from hypothesis import given
from hypothesis import strategies as st

from raft_c_spark.operators import tsdb
from raft_c_spark.sources.testdata import events_as_points
from tests.harness import assert_matches_oracle, df_rows, same_bits, spark_property

NS = "(epoch_ns(ts) - epoch_ns(ts) % 1000)"  # µs-truncated ns, oracle side
POINTS = (
    f"SELECT event_type AS series, {NS} AS timestamp, value FROM events"
)


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    df = events_as_points(spark, sf_dir)
    df.cache().count()
    return df


def test_scan_full(points, duck):
    assert_matches_oracle(
        tsdb.ts_scan(points),
        duck,
        f"SELECT * FROM ({POINTS}) ORDER BY timestamp",
        "scan",
    )


def test_scan_is_ordered(points):
    rows = tsdb.ts_scan(points, series="click").collect()
    ts = [r["timestamp"] for r in rows]
    assert ts == sorted(ts)
    assert all(r["series"] == "click" for r in rows)


def test_range_inclusive_bounds(points, duck):
    # pick real timestamps so inclusivity is observable
    # (tests/timeseries_test.c:270-308: end-start+1 rows)
    ts = sorted(r["timestamp"] for r in points.select("timestamp").collect())
    t0, t1 = ts[10], ts[200]
    df = tsdb.ts_range(points, t0, t1)
    all_ts = [r[1] for r in df_rows(df)]  # cols sorted: series,timestamp,value
    assert min(all_ts) == t0 and max(all_ts) == t1  # both bounds inclusive
    assert_matches_oracle(
        df,
        duck,
        f"SELECT * FROM ({POINTS}) WHERE timestamp BETWEEN {t0} AND {t1}",
        "range",
    )


def test_range_invalid_raises(points):
    with pytest.raises(tsdb.InvalidRangeError):
        tsdb.ts_range(points, 10, 5)


def test_find_exact_ns(points):
    row = points.limit(1).collect()[0]
    out = tsdb.ts_find(points, row["timestamp"], series=row["series"]).collect()
    assert len(out) >= 1
    assert all(r["timestamp"] == row["timestamp"] for r in out)


def test_where_chain(points, duck):
    df = tsdb.where_chain(points, [("value", ">", 12.2), ("value", "<", 16.2)])
    assert_matches_oracle(
        tsdb.ts_scan(df),
        duck,
        f"SELECT * FROM ({POINTS}) WHERE value > 12.2 AND value < 16.2",
        "where",
    )


def test_where_timestamp_key(points):
    ts = sorted(r["timestamp"] for r in points.select("timestamp").collect())
    mid = ts[len(ts) // 2]
    n = tsdb.where_chain(points, [("timestamp", ">=", mid)]).count()
    assert n == sum(1 for t in ts if t >= mid)


def test_min_max_record_semantics(points, duck):
    assert_matches_oracle(
        tsdb.ts_min(points),
        duck,
        f"""SELECT series, timestamp, value FROM (
              SELECT series, timestamp, value,
                     row_number() OVER (PARTITION BY series
                                        ORDER BY value, timestamp) rn
              FROM ({POINTS})) WHERE rn = 1""",
        "min",
    )
    assert_matches_oracle(
        tsdb.ts_max(points),
        duck,
        f"""SELECT series, timestamp, value FROM (
              SELECT series, timestamp, value,
                     row_number() OVER (PARTITION BY series
                                        ORDER BY value DESC, timestamp) rn
              FROM ({POINTS})) WHERE rn = 1""",
        "max",
    )


def test_latest_earliest(points, duck):
    assert_matches_oracle(
        tsdb.ts_latest(points),
        duck,
        f"""SELECT series, timestamp, value FROM (
              SELECT series, timestamp, value,
                     row_number() OVER (PARTITION BY series
                                        ORDER BY timestamp DESC, value DESC) rn
              FROM ({POINTS})) WHERE rn = 1""",
        "latest",
    )
    assert_matches_oracle(
        tsdb.ts_earliest(points),
        duck,
        f"""SELECT series, timestamp, value FROM (
              SELECT series, timestamp, value,
                     row_number() OVER (PARTITION BY series
                                        ORDER BY timestamp, value) rn
              FROM ({POINTS})) WHERE rn = 1""",
        "earliest",
    )


def test_avg(points, duck):
    assert_matches_oracle(
        tsdb.ts_avg(points),
        duck,
        f"SELECT series, avg(value) AS avg_value FROM ({POINTS}) GROUP BY series",
        "avg",
    )


def test_sample_by_reference_semantics(spark):
    """Hand-built fixture replicating ts_avg_sample edge cases
    (src/timeseries.c:1265-1308): boundary points dropped, label is
    bucket end, empty buckets skipped, tail bucket (end >= t1) dropped."""
    iv = 10  # interval 10 ns for readability
    rows = [
        ("s", 5, 1.0),  # bucket end 10
        ("s", 10, 100.0),  # boundary — in no bucket
        ("s", 11, 2.0),  # bucket end 20
        ("s", 19, 4.0),  # bucket end 20
        ("s", 21, 8.0),  # bucket end 30 — dropped when t1=25 (tail)
        # bucket 40..50 empty — skipped
        ("s", 55, 16.0),  # bucket end 60
    ]
    df = spark.createDataFrame(rows, "series string, timestamp long, value double")

    out = {r["bucket_ts"]: r["avg_value"] for r in tsdb.sample_by(df, iv).collect()}
    assert out == {10: 1.0, 20: 3.0, 30: 8.0, 60: 16.0}

    # with bounds: t0 normalized down, tail bucket end>=t1 dropped
    out2 = {
        r["bucket_ts"]: r["avg_value"]
        for r in tsdb.sample_by(df, iv, t0=5, t1=25).collect()
    }
    assert out2 == {10: 1.0, 20: 3.0}


def test_sample_by_oracle(points, duck):
    iv = 3_600_000_000_000  # 1 hour in ns
    assert_matches_oracle(
        tsdb.sample_by(points, iv),
        duck,
        f"""SELECT series,
                   timestamp - (timestamp % {iv}) + {iv} AS bucket_ts,
                   avg(value) AS avg_value
            FROM ({POINTS})
            WHERE timestamp % {iv} <> 0
            GROUP BY series, bucket_ts""",
        "sample_by",
    )


def test_limit(points):
    assert tsdb.ts_scan(points).limit(17).count() == 17


def test_sample_by_sliding_hand_fixture(spark):
    """Hopping windows [w, w+length) half-open, label = window start,
    each point in length/slide windows."""
    rows = [
        ("s", 5, 1.0),   # windows starting at 0 and -10 (len 20, slide 10)
        ("s", 10, 3.0),  # windows 10 and 0 (half-open: 10 belongs to [10,30) and [0,20))
        ("s", 25, 5.0),  # windows 20 and 10
    ]
    df = spark.createDataFrame(rows, "series string, timestamp long, value double")
    out = {
        r["bucket_ts"]: (r["avg_value"], r["n_points"])
        for r in tsdb.sample_by_sliding(df, 10, 20).collect()
    }
    assert out == {
        -10: (1.0, 1),
        0: (2.0, 2),
        10: (4.0, 2),
        20: (5.0, 1),
    }


def test_sample_by_sliding_validation(spark):
    df = spark.createDataFrame(
        [("s", 1, 1.0)], "series string, timestamp long, value double"
    )
    with pytest.raises(ValueError):
        tsdb.sample_by_sliding(df, 0, 10)
    with pytest.raises(ValueError):
        tsdb.sample_by_sliding(df, 10, 25)


def test_sample_by_sliding_matches_tumbling_when_equal(points):
    """slide == length degenerates to tumbling windows (modulo the
    reference's boundary quirk and end-vs-start labels): same point
    partition, shifted labels."""
    iv = 86_400_000_000_000
    rows = tsdb.sample_by_sliding(points, iv, iv).collect()
    # independent recount: every point lands in exactly one window
    assert sum(r["n_points"] for r in rows) == points.count()


def test_sample_by_multi_aggregates(spark):
    rows = [
        ("s", 5, 1.0),
        ("s", 11, 2.0),
        ("s", 19, 4.0),
        ("s", 55, 16.0),
    ]
    df = spark.createDataFrame(rows, "series string, timestamp long, value double")
    out = {
        r["bucket_ts"]: (r["min_value"], r["max_value"], r["avg_value"], r["count_value"])
        for r in tsdb.sample_by(df, 10, fns=("min", "max", "avg", "count")).collect()
    }
    assert out == {
        10: (1.0, 1.0, 1.0, 1),
        20: (2.0, 4.0, 3.0, 2),
        60: (16.0, 16.0, 16.0, 1),
    }


def test_sample_by_rejects_unknown_fn(spark):
    df = spark.createDataFrame([("s", 1, 1.0)], "series string, timestamp long, value double")
    with pytest.raises(ValueError):
        tsdb.sample_by(df, 10, fns=("median",))


def test_sample_by_fill_prev_null_const(spark):
    """Gap-fill semantics on a hand-built frame: buckets 10 and 40
    have points, 20 and 30 are gaps -> grid spans 10..40, prev-fill
    carries 1.0 through the gaps, null-fill leaves NULLs, const-fill
    plants the constant; `filled` marks exactly the synthesized rows."""
    from raft_c_spark.operators.tsdb import sample_by_fill

    rows = [("s", 5, 1.0), ("s", 35, 7.0)]
    df = spark.createDataFrame(
        rows, "series string, timestamp long, value double"
    )
    prev = {
        (r["bucket_ts"]): (r["avg_value"], r["filled"])
        for r in sample_by_fill(df, 10, fill="prev").collect()
    }
    assert prev == {
        10: (1.0, False),
        20: (1.0, True),
        30: (1.0, True),
        40: (7.0, False),
    }
    nul = {
        r["bucket_ts"]: (r["avg_value"], r["filled"])
        for r in sample_by_fill(df, 10, fill="null").collect()
    }
    assert nul[20] == (None, True) and nul[40] == (7.0, False)
    const = {
        r["bucket_ts"]: r["avg_value"]
        for r in sample_by_fill(df, 10, fill=0.5).collect()
    }
    assert const == {10: 1.0, 20: 0.5, 30: 0.5, 40: 7.0}


def test_sample_by_fill_per_series_grid(spark):
    """The grid is per-series (each series' own min..max), so one
    series' range never bleeds empty rows into another's."""
    from raft_c_spark.operators.tsdb import sample_by_fill

    rows = [("a", 5, 1.0), ("a", 25, 3.0), ("b", 95, 9.0)]
    df = spark.createDataFrame(
        rows, "series string, timestamp long, value double"
    )
    got = {
        (r["series"], r["bucket_ts"])
        for r in sample_by_fill(df, 10, fill="prev").collect()
    }
    assert got == {("a", 10), ("a", 20), ("a", 30), ("b", 100)}


def test_sample_by_fill_grid_guard(spark):
    """A pathological interval/span combination must fail loudly at
    the guard (named series in the message), not OOM an executor on a
    multi-billion-element sequence array."""
    import pytest

    from raft_c_spark.operators.tsdb import sample_by_fill

    df = spark.createDataFrame(
        [("s", 5, 1.0), ("s", 40_000_000_005, 7.0)],
        "series string, timestamp long, value double",
    )
    with pytest.raises(Exception, match="grid exceeds"):
        sample_by_fill(df, 10, fill="prev").collect()


def _twins(spark, rows):
    """``rows`` as a driver-side point table and as a Spark frame."""
    import pyarrow as pa

    from raft_c_spark.sources.tsstore import POINT_SCHEMA, _POINT_ARROW

    table = pa.Table.from_pydict(
        dict(zip(POINT_SCHEMA.names, map(list, zip(*rows)))), schema=_POINT_ARROW
    )
    return table, spark.createDataFrame(rows, POINT_SCHEMA)


def test_driver_twins_match_spark_bit_for_bit(spark):
    """Each operator's numpy twin gives its Spark answer bit for bit
    over values that stress ``exact_avg``'s DECIMAL(38,10) leaf —
    two-decimal readings, long fractions, ties at the tenth decimal,
    magnitudes up to 1e25 whose ``Double.toString`` has 17 digits,
    tiny and NaN/±inf values — on timestamps either side of 1970."""
    import math
    import random

    from pyspark.sql import functions as F

    rng = random.Random(5)
    draws = [
        lambda: round(rng.uniform(-1e3, 1e3), 2),
        lambda: rng.uniform(-1, 1) * 10 ** rng.randint(-12, 6),
        lambda: rng.uniform(-1, 1) * 10 ** rng.randint(5, 25),
        lambda: rng.getrandbits(52) / 2 ** rng.randint(0, 60),
        lambda: rng.choice([math.nan, math.inf, -math.inf, 0.5]),
        lambda: round(rng.uniform(1e5, 2e5), 3),
        # a tie at the tenth decimal, which HALF_UP rounds away from 0
        lambda: float(f"{rng.randint(-999, 999)}.{rng.randrange(10**10):010d}5"),
    ]
    # each kind of value in buckets of its own, where no larger value
    # hides its last bits
    rows = [
        ("s", -10**12 + k * 10**10 + j * 7_777_777, draw())
        for k, draw in enumerate(draws)
        for j in range(430)
    ]
    table, df = _twins(spark, rows)
    second = 10**9
    cases = [
        lambda p: tsdb.ts_scan(p),
        lambda p: tsdb.where_chain(p, [("value", ">", 0.25), ("timestamp", "!=", 5)]),
        lambda p: tsdb.ts_min(p, group_by_series=False),
        lambda p: tsdb.ts_max(p, group_by_series=False),
        lambda p: tsdb.ts_latest(p, group_by_series=False),
        lambda p: tsdb.ts_earliest(p, group_by_series=False),
        lambda p: tsdb.ts_avg(p, group_by_series=False),
        lambda p: tsdb.ts_aggs(p, ("avg", "min", "max", "count")),
        lambda p: tsdb.sample_by(
            p, second, t0=-10**12 + 3, t1=2 * 10**13,
            group_by_series=False, fns=("min", "max", "avg", "count"),
        ),
        lambda p: tsdb.sample_by_fill(
            tsdb.where_chain(p, [("value", ">", 1e4)]), second // 4, fill="prev"
        ),
    ]
    # the DECIMAL(38,10) leaf itself, before a sum can hide a digit
    units, valid = tsdb._leaf_units(table["value"].to_numpy())
    leaves = df.select(F.col("value").cast("decimal(38,10)")).collect()
    assert [u if ok else None for u, ok in zip(units, valid)] == [
        None if d is None else int(d.scaleb(10)) for (d,) in leaves
    ]
    for i, case in enumerate(cases):
        out = case(table)
        got = [tuple(r.values()) for r in out.to_pylist()]
        # the Spark results of a grouped operator keep ``series``
        want = [tuple(r) for r in case(df).select(*out.column_names).collect()]
        assert want and same_bits(got, want), (i, got[:5], want[:5])


@pytest.mark.parametrize("values", [[1e28], [9e27, 9e27], [-6e27, -5e27, 0.5]])
def test_driver_exact_avg_overflow_raises_like_spark(spark, values):
    """A leaf past DECIMAL(38,10)'s 28 integer digits, or a sum past
    its 38, fails the average on both paths."""
    table, df = _twins(spark, [("s", i, v) for i, v in enumerate(values)])
    with pytest.raises(ArithmeticError):
        tsdb.ts_avg(table, group_by_series=False)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|NUMERIC_VALUE_OUT_OF_RANGE"):
        tsdb.ts_avg(df, group_by_series=False).collect()


def test_sample_by_fill_grid_guard_on_driver(spark):
    """The driver twin refuses the same pathological grid."""
    table, _ = _twins(spark, [("s", 5, 1.0), ("s", 40_000_000_005, 7.0)])
    with pytest.raises(ValueError, match="grid exceeds 10000000 buckets for series s"):
        tsdb.sample_by_fill(table, 10, fill="prev")


_points_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        # negative timestamps included: the bucket expression must
        # floor (pmod), not truncate toward zero (%)
        st.integers(-10_000, 10_000),
        st.floats(-100, 100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=40,
)


def _brute_delta_rate(rows, interval):
    # Python % IS floor-mod — the reference semantics the operator's
    # pmod must match on negative timestamps
    buckets: dict[tuple[str, int], list[tuple[int, float]]] = {}
    for s, t, v in rows:
        buckets.setdefault((s, t - t % interval), []).append((t, v))
    out = {}
    for key, pts in buckets.items():
        first = min(pts)
        last = max(pts)
        delta = last[1] - first[1]
        span = last[0] - first[0]
        rate = (
            round(delta * 1_000_000_000.0 / span, 8) if span > 0 else None
        )
        out[key] = (len(pts), round(delta, 8), rate)
    return out


@given(rows=_points_strategy, interval=st.sampled_from([7, 100, 1000]))
@spark_property()
def test_delta_rate_matches_brute(spark, rows, interval):
    df = spark.createDataFrame(
        [(s, t, float(v)) for s, t, v in rows],
        "series string, timestamp long, value double",
    )
    got = {
        (r["series"], r["bucket_ts"]): (
            r["n_points"],
            r["delta"],
            r["rate_per_s"],
        )
        for r in tsdb.delta_rate(df, interval).collect()
    }
    want = _brute_delta_rate(rows, interval)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)
        if want[k][2] is None:
            assert got[k][2] is None
        else:
            assert got[k][2] == pytest.approx(want[k][2], rel=1e-6)


def test_delta_rate_single_point_bucket_null_rate(spark):
    df = spark.createDataFrame(
        [("s", 5, 1.5), ("s", 105, 2.0), ("s", 110, 3.5)],
        "series string, timestamp long, value double",
    )
    rows = {
        r["bucket_ts"]: r for r in tsdb.delta_rate(df, 100).collect()
    }
    assert rows[0]["n_points"] == 1
    assert rows[0]["delta"] == 0.0
    assert rows[0]["rate_per_s"] is None
    assert rows[100]["n_points"] == 2
    assert rows[100]["delta"] == pytest.approx(1.5)
    assert rows[100]["rate_per_s"] == pytest.approx(1.5 * 1e9 / 5)


def test_delta_rate_duplicate_ns_tiebreak_by_value(spark):
    # identical-ns points (DP_INSERT model): struct(ts, value) min/max
    # resolves by value — first=(10, 1.0), last=(10, 9.0), span 0
    df = spark.createDataFrame(
        [("s", 10, 9.0), ("s", 10, 1.0)],
        "series string, timestamp long, value double",
    )
    r = tsdb.delta_rate(df, 100).collect()[0]
    assert r["delta"] == pytest.approx(8.0)
    assert r["rate_per_s"] is None


def test_delta_rate_negative_ts_floor_bucket(spark):
    # -50 and 50 lie in DIFFERENT buckets under the floor contract
    # (a truncating % would merge both into bucket 0)
    df = spark.createDataFrame(
        [("s", -50, 0.0), ("s", 50, 10.0)],
        "series string, timestamp long, value double",
    )
    rows = {r["bucket_ts"]: r for r in tsdb.delta_rate(df, 100).collect()}
    assert set(rows) == {-100, 0}
    assert rows[-100]["n_points"] == 1 and rows[0]["n_points"] == 1


def test_delta_rate_validates_interval(spark):
    df = spark.createDataFrame(
        [("s", 1, 1.0)], "series string, timestamp long, value double"
    )
    with pytest.raises(ValueError):
        tsdb.delta_rate(df, 0)


def _lttb(spark, rows, interval):
    df = spark.createDataFrame(
        rows, "series string, timestamp long, value double"
    )
    return {
        (r["series"], r["bucket_ts"]): (r["timestamp"], r["value"])
        for r in tsdb.lttb_downsample(df, interval).collect()
    }


def test_lttb_keeps_endpoints_and_max_area(spark):
    # series s: buckets [0,10), [10,20), [20,30); the middle bucket
    # holds a spike at ts=15 that plain averaging would erase
    rows = [
        ("s", 1, 1.0), ("s", 5, 1.0),          # first bucket
        ("s", 11, 1.0), ("s", 15, 9.0), ("s", 18, 1.0),  # spike
        ("s", 22, 1.0), ("s", 29, 2.0),        # last bucket
    ]
    got = _lttb(spark, rows, 10)
    assert got[("s", 0)] == (1, 1.0)     # first bucket -> first point
    assert got[("s", 20)] == (29, 2.0)   # last bucket -> last point
    assert got[("s", 10)] == (15, 9.0)   # interior -> the spike


def test_lttb_flat_series_tiebreak_earliest(spark):
    # all-equal values: every interior area is 0 -> earliest ts wins
    rows = [("s", t, 5.0) for t in (1, 3, 11, 14, 17, 21, 25)]
    got = _lttb(spark, rows, 10)
    assert got[("s", 10)] == (11, 5.0)


def test_lttb_sparse_buckets_use_nonempty_neighbors(spark):
    # bucket 20 is empty; bucket 30's prev anchor must be bucket
    # 10's LAST point (not a phantom bucket-20 anchor), and bucket 10
    # is interior between 0 and 30
    rows = [
        ("s", 1, 0.0), ("s", 12, 4.0), ("s", 15, 0.0),
        ("s", 31, 0.0), ("s", 35, 7.0), ("s", 41, 0.0),
    ]
    got = _lttb(spark, rows, 10)
    assert set(got) == {("s", 0), ("s", 10), ("s", 30), ("s", 40)}
    assert got[("s", 10)] == (12, 4.0)   # the bump survives
    assert got[("s", 40)] == (41, 0.0)   # last bucket -> last point


def test_lttb_single_bucket_series(spark):
    rows = [("a", 3, 1.0), ("a", 7, 2.0)]
    got = _lttb(spark, rows, 10)
    assert got == {("a", 0): (3, 1.0)}  # boundary rule: first point


def test_lttb_plan_quality(spark, sf_dir):
    """The point stream must never be windowed — the only Window runs
    over the bucket-sized boundary frame, the anchor join-back is
    measured-cap BROADCAST here (sf anchors are tiny, far under
    ``_BROADCAST_MAX_BANDED_ROWS``), and selection is a hash
    aggregate. The over-cap tier is pinned separately by
    ``test_lttb_fallback_plan_and_bit_identity`` — the broadcast is a
    counted decision, never a Catalyst size guess."""
    from raft_c_spark.plans.parity import q_ts_lttb

    plan = q_ts_lttb(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    # the one Window must consume the bucket aggregate, not raw points:
    # its child plan segment carries the partial-aggregated bounds
    wins = plan.count("Window")
    assert wins >= 1, plan


def test_lttb_fallback_plan_and_bit_identity(spark, sf_dir, monkeypatch):
    """Forcing the anchor count over the broadcast cap must (a) switch
    the join-back to the shuffle_hash-hinted equi-join — no broadcast
    of the output-sized anchor frame, no sort-merge — and (b) produce
    bit-identical rows to the broadcast tier (the dedup_exact
    fallback-identity template)."""
    from raft_c_spark.operators import dedup
    from raft_c_spark.plans.parity import q_ts_lttb

    base = q_ts_lttb(spark, sf_dir)
    expect = [tuple(r) for r in base.collect()]

    monkeypatch.setattr(dedup, "_BROADCAST_MAX_BANDED_ROWS", 0)
    forced = q_ts_lttb(spark, sf_dir)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert [tuple(r) for r in forced.collect()] == expect
