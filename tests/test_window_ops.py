"""``operators/window`` tests: the Markov transition matrix and
multi-touch attribution, pinned against hand fixtures and pure-python
replays; MAD anomalies and the as-of join."""

from __future__ import annotations

import re

import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import Row

from raft_c_spark.operators.window import attribution_credit, transition_matrix
from tests.harness import spark_property


_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 50),  # ts (collisions likely)
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=2,
    max_size=30,
)


def _brute_transitions(rows):
    # order per user by (ts, event_id) — event_id is the list index
    by_user: dict[int, list[tuple[int, int, str]]] = {}
    for i, (u, ts, s) in enumerate(rows):
        by_user.setdefault(u, []).append((ts, i, s))
    counts: dict[tuple[str, str], int] = {}
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    totals: dict[str, int] = {}
    for (a, _), c in counts.items():
        totals[a] = totals.get(a, 0) + c
    return {
        (a, b): (c, totals[a], round(c / totals[a], 8))
        for (a, b), c in counts.items()
    }


@given(rows=_events_strategy)
@spark_property()
def test_transition_matrix_matches_brute(spark, rows):
    df = spark.createDataFrame(
        [(i, u, ts, s) for i, (u, ts, s) in enumerate(rows)],
        "event_id long, user_id long, timestamp long, state string",
    )
    got = {
        (r["from_state"], r["to_state"]): (
            r["n_transitions"],
            r["n_from"],
            r["prob"],
        )
        for r in transition_matrix(
            df, "user_id", "timestamp", "state", tiebreak_col="event_id"
        ).collect()
    }
    want = _brute_transitions(rows)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == want[k][1]
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-8)


def test_transition_matrix_probs_sum_to_one(spark):
    df = spark.createDataFrame(
        [(i, 1, i, s) for i, s in enumerate("aabacbabcc")],
        "event_id long, user_id long, timestamp long, state string",
    )
    rows = transition_matrix(
        df, "user_id", "timestamp", "state", tiebreak_col="event_id"
    ).collect()
    by_from: dict[str, float] = {}
    for r in rows:
        by_from[r["from_state"]] = by_from.get(r["from_state"], 0.0) + r["prob"]
    for s, total in by_from.items():
        assert total == pytest.approx(1.0, abs=1e-6)


def _attr(spark, rows):
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_type string, event_id long"
    )
    out = attribution_credit(df)
    return {(r["model"], r["touch_type"]): (r["credit"], r["n_touches"])
            for r in out.collect()}


def test_attribution_hand_case(spark):
    # user 1: view -> click -> view -> purchase (n=3 touches)
    # user 2: click -> purchase (n=1), then a trailing view (no credit)
    rows = [
        (1, 10, "view", 1), (1, 20, "click", 2), (1, 30, "view", 3),
        (1, 40, "purchase", 4),
        (2, 10, "click", 5), (2, 20, "purchase", 6), (2, 30, "view", 7),
    ]
    got = _attr(spark, rows)
    # view touches: u1 pos1 + u1 pos3 (u2's trailing view never
    # converts); click touches: u1 pos2 + u2's single touch
    assert got[("last_touch", "view")] == (1.0, 2)   # u1 pos3
    assert got[("last_touch", "click")] == (1.0, 2)  # u2 n=1
    assert got[("first_touch", "view")] == (1.0, 2)
    assert got[("first_touch", "click")] == (1.0, 2)
    # linear: u1 views 2/3, u1 click 1/3; u2 click 1
    assert got[("linear", "view")][0] == pytest.approx(
        round(round(1 / 3, 8) * 2, 8)
    )
    assert got[("linear", "click")][0] == pytest.approx(
        round(round(1 / 3, 8) + 1.0, 8)
    )
    # position (n=3): first 0.4 + last 0.4 -> views; middle 0.2 -> click
    assert got[("position_based", "view")][0] == pytest.approx(0.8)
    assert got[("position_based", "click")][0] == pytest.approx(
        0.2 + 1.0
    )


def test_attribution_two_touch_journey(spark):
    rows = [(1, 10, "view", 1), (1, 20, "click", 2), (1, 30, "purchase", 3)]
    got = _attr(spark, rows)
    assert got[("position_based", "view")][0] == 0.5
    assert got[("position_based", "click")][0] == 0.5
    assert got[("linear", "view")][0] == 0.5


def test_attribution_multiple_journeys_per_user(spark):
    # the second purchase starts a NEW journey — its touch is the
    # view at ts=40, not anything before the first purchase
    rows = [
        (1, 10, "click", 1), (1, 20, "purchase", 2),
        (1, 40, "view", 3), (1, 50, "purchase", 4),
    ]
    got = _attr(spark, rows)
    assert got[("last_touch", "click")] == (1.0, 1)
    assert got[("last_touch", "view")] == (1.0, 1)


def test_attribution_conversions_without_touches_earn_nothing(spark):
    # back-to-back purchases: the second journey has zero touches
    rows = [
        (1, 10, "view", 1), (1, 20, "purchase", 2), (1, 30, "purchase", 3),
    ]
    got = _attr(spark, rows)
    assert sum(c for (m, t), (c, n) in got.items() if m == "linear") == 1.0


def test_attribution_model_totals_equal_converted_journeys(spark, sf_dir):
    """Invariant: every model distributes 1.0 per converted journey
    with >= 1 touch — up to the documented 8-decimal quantization of
    the fractional credits (round(1/n)·n misses 1.0 by ≤ n·5e-9), so
    the four model totals agree within that accumulated residue."""
    from raft_c_spark.plans.events_analytics import q_ev_attribution_models

    rows = q_ev_attribution_models(spark, sf_dir).collect()
    totals = {}
    for r in rows:
        totals[r["model"]] = totals.get(r["model"], 0.0) + r["credit"]
    ref = totals["last_touch"]  # integer credits — exact
    assert ref == int(ref)
    for m, v in totals.items():
        assert v == pytest.approx(ref, abs=1e-3), totals
    # and n_touches is model-independent
    by_type = {}
    for r in rows:
        by_type.setdefault(r["touch_type"], set()).add(r["n_touches"])
    assert all(len(v) == 1 for v in by_type.values()), by_type


def test_attribution_plan_quality(spark, sf_dir):
    """Both windows key on user (bounded per-key state — the
    sessionize class); no cartesian, no Python, and the only
    exchanges are the user hash partitioning + the final tiny sort."""
    from raft_c_spark.plans.events_analytics import q_ev_attribution_models

    plan = q_ev_attribution_models(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    parts = re.findall(r"windowpartition.*?=\[([^\]]*)\]", plan)
    # every Window partition spec must include user_id
    for spec in re.findall(r"Window \[[^\]]*\], \[([^\]]+)\]", plan):
        assert "user_id" in spec, (spec, plan)


# -------- MAD anomalies and the as-of join


def test_mad_flags_planted_outlier_classical_z_misses_direction(spark):
    """A giant outlier among small values must be flagged, and the
    MEDIAN/MAD the flags are computed from must be unmoved by the
    outlier itself (the robustness property that motivates MAD over
    mean/stddev)."""
    from raft_c_spark.operators import window as w

    rows = [Row(s="a", t=i, v=float(10 + (i % 5))) for i in range(100)]
    rows.append(Row(s="a", t=1000, v=10_000.0))
    df = spark.createDataFrame(rows)
    out = w.mad_anomalies(df, "s", "t", "v", k=8.0).collect()
    assert [r["t"] for r in out] == [1000]
    assert out[0]["med"] == 12.0 and out[0]["mad"] == 1.0


def test_mad_no_flags_on_tight_series(spark):
    from raft_c_spark.operators import window as w

    df = spark.createDataFrame(
        [Row(s="a", t=i, v=float(i % 3)) for i in range(60)]
    )
    assert w.mad_anomalies(df, "s", "t", "v", k=8.0).count() == 0


def test_mad_zero_series_excluded_not_all_flagged(spark):
    """A series where >=50% of values equal the median has
    MAD = 0 — |x−med| > k·0 would flag EVERY non-median point and
    robust_z would divide by zero. Such series are excluded from
    flagging entirely; a healthy series in the same frame still
    flags its outlier."""
    from raft_c_spark.operators import window as w

    rows = [Row(s="deg", t=i, v=5.0) for i in range(50)]
    rows += [Row(s="deg", t=100 + i, v=float(1000 + i)) for i in range(10)]
    rows += [Row(s="ok", t=i, v=float(10 + (i % 5))) for i in range(100)]
    rows.append(Row(s="ok", t=1000, v=10_000.0))
    out = w.mad_anomalies(
        spark.createDataFrame(rows), "s", "t", "v", k=8.0
    ).collect()
    assert [(r["s"], r["t"]) for r in out] == [("ok", 1000)]


def test_asof_join_deterministic_on_duplicate_right_ts(spark):
    """Two right rows at the same (key, ts) with different values:
    the carried row must be the lexicographic max of the value struct
    — identical across partitionings."""
    from raft_c_spark.operators import window as w

    left = spark.createDataFrame([("k", 100)], "key string, timestamp long")
    right = spark.createDataFrame(
        [("k", 100, 5.0), ("k", 100, 9.0)],
        "key string, timestamp long, price double",
    )
    outs = []
    for parts in (1, 7):
        out = w.asof_join(
            left, right.repartition(parts), key="key"
        ).collect()
        outs.append([(r["key"], r["right_price"]) for r in out])
    assert outs[0] == outs[1] == [("k", 9.0)]
