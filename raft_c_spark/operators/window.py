"""Window-function operators: sessionization, per-group top-k, running
aggregates, and a scalable as-of join.

The reference has no window surface beyond SAMPLE BY (SURVEY §2.6-2.7)
— these are the engine's capability extensions, built on Spark's
native window machinery (one shuffle per partitioning key, then
in-partition sorted evaluation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], k: int
) -> DataFrame:
    """Top-k rows per group via row_number (deterministic iff
    order_cols are a total order). Physical shape: single hash shuffle
    on the group keys + in-partition sort — no global sort."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .withColumnRenamed("_rn", "rank")
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_ns: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap from the
    previous event of the same key exceeds ``gap_ns``. Classic
    lag + cumulative-sum-of-boundaries; one shuffle on the key."""
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    is_new = F.when(
        gap.isNull() | (gap > F.lit(gap_ns)), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "timestamp",
    right_ts: str = "timestamp",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.ts <= left.ts`` on the same key.

    Spark lacks a native as-of join; the scalable composition is the
    union-and-carry trick: tag both sides, union, sort within key by
    (ts, side), and carry the right side's values forward with
    last_value(ignoreNulls). One shuffle on the key, linear in
    |L|+|R| — no range-join explosion (a naive join + filter + max is
    O(|L|·|R|) per key).

    Duplicate right rows at the same (key, ts) are totally ordered by
    the right value struct itself (with only (ts, side) in the sort,
    WHICH duplicate's values were carried depended on partition-local
    order — nondeterministic across runs). The struct
    compares field-by-field in ``right_cols`` order, so the carried
    row is the lexicographic maximum — deterministic on any engine.
    Right sides containing non-orderable columns (maps) must exclude
    them via ``right_cols``.
    """
    right_cols = right_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    # side 0 sorts before side 1 at equal ts → the right row at
    # ts == left ts is visible to the left row
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_r"),
    )
    l2 = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(r_tag.schema["_r"].dataType).alias("_r"),
    )
    r2 = r_tag.select(
        "_k",
        "_ts",
        "_side",
        F.lit(None).cast(l2.schema["_l"].dataType).alias("_l"),
        "_r",
    )
    u = l2.unionByName(r2)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(
        "_r_carry", F.last("_r", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("_side") == 1).select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[F.col(f"_r_carry.{c}").alias(f"right_{c}") for c in right_cols],
    )
    return out


def funnel_steps(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "timestamp",
    type_col: str = "event_type",
) -> DataFrame:
    """Strict-ordered funnel: per user, the earliest time each step
    was reached *after* the previous step (t1 = first steps[0];
    t_i = first steps[i-1]-typed event with ts > t_{i-1}). Users stop
    appearing in t_i onward when they never complete step i (NULL).

    Scale shape: one hash aggregate + one equi-join per step, all
    keyed on the user — linear shuffles, no windows over the whole
    stream, no per-user event collection."""
    cur = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            df.filter(F.col(type_col) == step)
            .join(cur.select(user_col, f"t{i - 1}"), user_col)
            .filter(F.col(ts_col) > F.col(f"t{i - 1}"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t{i}"))
        )
        cur = cur.join(nxt, user_col, "left")
    return cur


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "timestamp",
    period_ns: int = 7 * 86_400_000_000_000,
) -> DataFrame:
    """Cohort retention: users are cohorted by the period of their
    first event (epoch-period index, integer div — exact at ns
    magnitudes); each (cohort, period_offset) row counts distinct
    users active that many periods after their first event. Two hash
    aggregates + one equi-join on the user — linear at any scale."""
    first = df.groupBy(user_col).agg(F.min(ts_col).alias("_t0"))
    return (
        df.select(user_col, ts_col)
        .join(first, user_col)
        .select(
            user_col,
            F.expr(f"_t0 div {period_ns}L").alias("cohort_period"),
            F.expr(f"({ts_col} - _t0) div {period_ns}L").alias("period_offset"),
        )
        .distinct()
        .groupBy("cohort_period", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def rolling_zscore(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    n_rows: int = 100,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key rolling z-score over the trailing ``n_rows`` window —
    the classic streaming anomaly signal. Engine-reproducible: the
    window sum and sum-of-squares go through exact decimals (leaf
    casts — associative, partitioning-independent), are cast to
    double once, and every subsequent op is plain IEEE double
    arithmetic any engine evaluates identically. Rows without a full
    window are emitted with NULL zscore (warm-up period).

    One shuffle (hash by key) + one in-partition sort; window state
    is n_rows values — linear at any scale.

    The trailing sums are computed as cumulative-sum differences
    (``cum[i] - cum[i-n]``), not sliding frames: Spark evaluates a
    ``ROWS n PRECEDING`` aggregate by re-scanning the frame per row
    (O(n_rows) work each — ~100× the data volume here), while
    running frames and lag are incremental. Decimal subtraction is
    exact, so the difference equals the direct frame sum bit-for-bit
    and the single cast to double is unchanged."""
    from raft_c_spark.functions.exact import dec

    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    wrow = Window.partitionBy(key_col).orderBy(*order)
    wcum = wrow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v = dec(value_col, "9,2")
    v2 = v * v
    cs = F.sum(v).over(wcum)
    csq = F.sum(v2).over(wcum)
    rn = F.row_number().over(wrow)

    def trailing(cum):
        return F.when(
            rn > n_rows, cum - F.lag(cum, n_rows).over(wrow)
        ).otherwise(cum)

    s = trailing(cs).cast("double")
    sq = trailing(csq).cast("double")
    n = F.least(rn, F.lit(n_rows))
    mean = s / n
    var = (sq - s * s / n) / (n - F.lit(1))
    z = (F.col(value_col) - mean) / F.sqrt(var)
    return df.withColumn(
        "zscore",
        F.when((n == n_rows) & (var > 0), z),
    )


def running_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: Column,
    agg: str = "sum",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Running aggregate (sum/min/max/count/avg) per key in time
    order."""
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fn = getattr(F, agg)
    return df.withColumn(f"running_{agg}", fn(value_col).over(w))


def mad_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    k: float = 8.0,
) -> DataFrame:
    """Robust per-series anomaly detection by median absolute
    deviation — the outlier filter classical z-scores get wrong on
    heavy-tailed metrics (the mean and stddev are themselves dragged
    by the outliers; the median and MAD are not). Flags rows with
    |x − median| > k·MAD and reports the robust z ((x − med)/MAD).

    Determinism: Spark ``percentile`` and DuckDB ``quantile_cont``
    share the linear-interpolation definition and bit-match on the
    same doubles (pinned by ev_exact_percentiles); |x − med| is one
    subtraction, the second percentile interpolates those exact
    doubles, and the threshold compare and robust z are single IEEE
    ops — the whole predicate replays bit-exactly cross-engine.

    Degenerate regime: a series where ≥ 50% of values
    equal the median has MAD = 0, making |x − med| > k·0 flag every
    non-median point regardless of ``k`` and robust_z = ±Inf. Such a
    series has no robust scale to judge against, so it is EXCLUDED
    from flagging (``mad > 0`` below; the oracle replays the same
    predicate) rather than drowning the output in false anomalies.

    Scale shape: two grouped EXACT percentiles (each needs the full
    sorted group — the audit-scale path; swap percentile_approx in at
    100 TB, same plan otherwise) + two broadcast joins of S-row
    median/MAD tables back onto the scan. The fact table never
    pre-shuffles."""
    med = df.groupBy(key_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    dev = df.join(F.broadcast(med), key_col).withColumn(
        "_absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(key_col).agg(
        F.expr("percentile(_absdev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), key_col)
        .filter(
            (F.col("mad") > 0)
            & (F.col("_absdev") > F.lit(k) * F.col("mad"))
        )
        .select(
            key_col,
            ts_col,
            value_col,
            "med",
            "mad",
            ((F.col(value_col) - F.col("med")) / F.col("mad")).alias(
                "robust_z"
            ),
        )
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: for each ordered pair of states (a, b), how often an
    event of type ``a`` is immediately followed by one of type ``b``
    in the SAME key's timeline, and the row-conditional probability
    ``P(next = b | current = a)``. The classic behavioral-analytics /
    clickstream-modeling primitive (next-state prediction, anomaly
    flows, bot-loop detection).

    Determinism contract: sequence order is (ts, tiebreak) — pass a
    unique tiebreak column when timestamps can collide, otherwise
    lag() is nondeterministic under duplicate keys. Counts are exact
    ints; the probability is ONE correctly-rounded IEEE division of
    two longs, rounded to 8 decimals — engine-identical.

    Scale shape: ONE shuffle on the key for the lag window (per-key
    partitions — key cardinality grows with data, per-key rows stay
    user-session-sized, the ev_sessionize bound); the pair count is a
    map-side-combined hash aggregate collapsing to ≤ |states|² rows;
    row totals REDUCE that tiny frame (≤ |states| rows, broadcast by
    construction — never a second pass over events). No Python, no
    join against the event stream.
    """
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    seq = df.select(
        F.col(state_col).alias("to_state"),
        F.lag(F.col(state_col)).over(w).alias("from_state"),
    ).filter(F.col("from_state").isNotNull())
    counts = seq.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("from_state").agg(
        F.sum("n_transitions").alias("n_from")
    )
    prob = F.round(
        F.col("n_transitions").cast("double") / F.col("n_from"), 8
    )
    return (
        counts.join(F.broadcast(totals), "from_state")
        .select(
            "from_state",
            "to_state",
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.col("n_from").cast("long").alias("n_from"),
            prob.alias("prob"),
        )
        .orderBy("from_state", "to_state")
    )


def attribution_credit(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "timestamp",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion: str = "purchase",
) -> DataFrame:
    """Multi-touch attribution: split each user's event stream into
    conversion JOURNEYS (the touches since the previous conversion,
    ending at a ``conversion`` event), credit every touch under the
    four standard marketing models, and aggregate credit per
    (model, touch type):

    - ``last_touch``  — 1.0 to the final touch before conversion
    - ``first_touch`` — 1.0 to the journey's first touch
    - ``linear``      — 1/n to each of the n touches
    - ``position_based`` (U-shaped) — 0.4 first + 0.4 last +
      0.2/(n−2) to each middle touch (n=1 → 1.0, n=2 → 0.5 each)

    Journeys that never convert (trailing touches after the user's
    last conversion) and conversions with zero prior touches earn no
    credit — both documented drops, standard for these models.

    Determinism contract: journeys and positions order by
    ``(timestamp, event_id)`` — a total order, duplicate-ts safe; the
    fractional credits (1/n, 0.2/(n−2)) are single correctly-rounded
    IEEE divisions rounded to 8 decimals and cast to DECIMAL(18,8)
    BEFORE the per-(model, type) sum (the quantized-log rule's
    arithmetic cousin — exact, order-independent), with the emitted
    total re-rounded to 8 after one final double cast. Invariant
    (pinned by pytest): every model's credit sums to the number of
    converted journeys with ≥ 1 touch, up to the quantization
    residue (round(1/n, 8)·n misses 1.0 by ≤ n·5e-9 per journey).

    Scale shape: two window passes, BOTH keyed by user (the
    sessionize class — per-user state is bounded; never a window
    over an unbounded key): journey index = running count of PRIOR
    conversions, then position/size/converted-flag over
    (user, journey). The credit expansion is a map-side 4-row stack
    and the final aggregate partial-combines to ≤ 4·|types| rows.
    """
    w_user = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    is_conv = (F.col(type_col) == conversion).cast("long")
    journeyed = df.select(
        user_col, ts_col, type_col, id_col
    ).withColumn(
        "_journey",
        F.coalesce(
            F.sum(is_conv).over(
                w_user.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    w_j = Window.partitionBy(user_col, "_journey")
    w_j_ord = w_j.orderBy(ts_col, id_col)
    flagged = journeyed.withColumn(
        "_converted",
        F.max(is_conv).over(
            w_j.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    touches = (
        flagged.filter(
            (F.col("_converted") == 1) & (F.col(type_col) != conversion)
        )
        .withColumn("_pos", F.row_number().over(w_j_ord))
        .withColumn(
            "_n",
            F.count(F.lit(1)).over(
                w_j.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    n, pos = F.col("_n"), F.col("_pos")
    q = lambda c: F.round(c, 8).cast("decimal(18,8)")  # noqa: E731
    c_last = q(F.when(pos == n, F.lit(1.0)).otherwise(F.lit(0.0)))
    c_first = q(F.when(pos == 1, F.lit(1.0)).otherwise(F.lit(0.0)))
    c_linear = q(F.lit(1.0) / n.cast("double"))
    c_position = q(
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((pos == 1) | (pos == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2).cast("double"))
    )
    stacked = (
        touches.withColumn("_c1", c_last)
        .withColumn("_c2", c_first)
        .withColumn("_c3", c_linear)
        .withColumn("_c4", c_position)
        .selectExpr(
            f"{type_col} AS touch_type",
            "stack(4, 'last_touch', _c1, 'first_touch', _c2, "
            "'linear', _c3, 'position_based', _c4) AS (model, credit)",
        )
    )
    return (
        stacked.groupBy("model", "touch_type")
        .agg(
            F.round(F.sum("credit").cast("double"), 8).alias("credit"),
            # each touch contributes exactly one stacked row per model
            F.count(F.lit(1)).cast("long").alias("n_touches"),
        )
        .orderBy("model", "touch_type")
    )
