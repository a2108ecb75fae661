"""Structured Streaming tests (SURVEY §2.9 / M4): micro-batch replay
of the events table through file drops, watermark late-data semantics
(≙ the reference's prev-chunk bounded lateness), the custom stateful
operator, store ingest, and batched result streaming."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from raft_c_spark.sources.tsstore import TimeSeriesStore
from raft_c_spark.streaming import (
    read_event_stream,
    stream_ingest_to_store,
    stream_results,
    stream_series_state,
    stream_tumbling_avg,
)

UTC = dt.timezone.utc


def _mk_events(spark, rows):
    """rows: (event_id, ts_iso, event_type, value)"""
    data = [
        (i, dt.datetime.fromisoformat(t).replace(tzinfo=None), 1, et, v, "{}")
        for (i, t, et, v) in rows
    ]
    from raft_c_spark.streaming.ingest import EVENT_SCHEMA

    return spark.createDataFrame(data, EVENT_SCHEMA)


def _drop(df, path, name):
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, f"_stage_{name}"))
    # move the part file in as a single atomic-ish arrival
    import glob
    import shutil

    part = glob.glob(os.path.join(path, f"_stage_{name}", "part-*.parquet"))[0]
    shutil.move(part, os.path.join(path, f"{name}.parquet"))
    shutil.rmtree(os.path.join(path, f"_stage_{name}"))


def test_tumbling_avg_and_late_data_drop(spark, tmp_path):
    """Batch 1 establishes the watermark; batch 2 contains one row
    ~2 h older than the watermark (dropped — bounded lateness, like
    the reference's beyond-prev-chunk corner) and one in-window row
    (kept)."""
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    b1 = _mk_events(
        spark,
        [
            (1, "2024-01-01 10:05:00", "click", 10.0),
            (2, "2024-01-01 10:20:00", "click", 20.0),
            (3, "2024-01-01 12:00:00", "click", 40.0),  # advances watermark
        ],
    )
    _drop(b1, src, "b1")

    stream = read_event_stream(spark, src)
    agg = stream_tumbling_avg(stream, "1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    try:
        q.processAllAvailable()
        b2 = _mk_events(
            spark,
            [
                (4, "2024-01-01 10:07:00", "click", 99.0),  # ~2h late → dropped
                (5, "2024-01-01 12:10:00", "click", 60.0),  # in window → kept
                (6, "2024-01-01 14:00:00", "click", 1.0),  # closes 12:00 window
            ],
        )
        _drop(b2, src, "b2")
        q.processAllAvailable()
        rows = {
            (r["window_start"].isoformat(), r["avg_value"], r["n_points"])
            for r in spark.sql("SELECT * FROM tumbling").collect()
        }
    finally:
        q.stop()
    # 10:00 window: closed after batch1's watermark advance; the late
    # row 99.0 from batch2 must NOT appear (avg stays 15.0)
    assert ("2024-01-01T10:00:00", 15.0, 2) in rows
    # 12:00 window closed by batch2's 14:00 row: includes the in-window
    # late row 60.0 → avg(40, 60) = 50
    assert ("2024-01-01T12:00:00", 50.0, 2) in rows


def test_stream_series_state_ooo_accounting(spark, tmp_path):
    src = str(tmp_path / "state_src")
    os.makedirs(src)
    b1 = _mk_events(
        spark,
        [
            (1, "2024-01-01 10:00:00", "click", 1.0),
            (2, "2024-01-01 10:05:00", "click", 1.0),
            (3, "2024-01-01 10:03:00", "click", 1.0),  # in-batch OOO
            (4, "2024-01-01 09:00:00", "view", 1.0),
        ],
    )
    _drop(b1, src, "b1")
    stream = read_event_stream(spark, src)
    out = stream_series_state(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("series_state")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        b2 = _mk_events(
            spark,
            [(5, "2024-01-01 09:30:00", "click", 1.0)],  # cross-batch OOO
        )
        _drop(b2, src, "b2")
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM series_state"
        ).collect()
    finally:
        q.stop()
    latest = {}
    for r in rows:  # update mode: take the last emission per series
        latest[r["series"]] = (r["n_points"], r["n_ooo"])
    assert latest["click"] == (4, 2)  # one in-batch + one cross-batch OOO
    assert latest["view"] == (1, 0)


def test_stream_ingest_to_store(spark, tmp_path):
    src = str(tmp_path / "ingest_src")
    os.makedirs(src)
    b1 = _mk_events(
        spark,
        [
            (1, "2024-01-01 10:00:00", "click", 1.5),
            (2, "2024-01-01 11:00:00", "view", 2.5),
        ],
    )
    _drop(b1, src, "b1")
    store = TimeSeriesStore(spark, str(tmp_path / "wh"))
    stream = read_event_stream(spark, src)
    q = stream_ingest_to_store(stream, store, "streamdb", str(tmp_path / "ckpt3"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pts = store.read("streamdb")
    rows = {(r["series"], r["value"]) for r in pts.collect()}
    assert rows == {("click", 1.5), ("view", 2.5)}


def test_stream_ingest_keeps_older_than_watermark(spark, tmp_path):
    """Reference semantics (src/timeseries.c:545-582): arbitrarily old
    inserts are KEPT — older-than-prev forces a flush and re-inits at
    the older base, it never discards. Stream three batches where the
    last carries a +5s-late point (inside the 15-min window ≙ prev
    chunk) and a 2-day-old point (far beyond it); both must land in
    the store and be findable via the engine's AT lookup."""
    from raft_c_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.execute("CREATEDB sdb")
    eng.execute("USE sdb")
    eng.execute("CREATE click")

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    _drop(
        _mk_events(spark, [(1, "2024-01-03 10:00:00", "click", 1.0)]), src, "b1"
    )
    _drop(
        _mk_events(spark, [(2, "2024-01-03 12:00:00", "click", 2.0)]), src, "b2"
    )
    stats: dict = {}
    stream = read_event_stream(spark, src)
    q = stream_ingest_to_store(
        stream, eng.store, "sdb", str(tmp_path / "ckpt_late"), stats=stats
    )
    try:
        q.processAllAvailable()
        _drop(
            _mk_events(
                spark,
                [
                    # +5s after the 10:00 point — hours behind the
                    # 12:00 high-water mark, far outside the 15-min
                    # window → the historical-partition route
                    (3, "2024-01-03 10:00:05", "click", 3.0),
                    # 2 days old → different day partition entirely
                    (4, "2024-01-01 09:00:00", "click", 4.0),
                    # fresh in-window row
                    (5, "2024-01-03 12:00:30", "click", 5.0),
                ],
            ),
            src,
            "b3",
        )
        q.processAllAvailable()
    finally:
        q.stop()

    assert stats["n_late"] == 2
    ns = lambda iso: int(
        dt.datetime.fromisoformat(iso).replace(tzinfo=UTC).timestamp() * 1e9
    )
    full = [
        (r["timestamp"], r["value"])
        for r in eng.execute("SELECT value FROM click").collect()
    ]
    assert [t for t, _ in full] == sorted(t for t, _ in full)
    assert len(full) == 5
    for iso, v in [("2024-01-03 10:00:05", 3.0), ("2024-01-01 09:00:00", 4.0)]:
        found = eng.execute(f"SELECT value FROM click AT {ns(iso)}").collect()
        assert [(r["timestamp"], r["value"]) for r in found] == [(ns(iso), v)]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys arriving in later micro-batches (inside the
    watermark window) are dropped; distinct keys pass through."""
    from raft_c_spark.streaming import stream_dedup

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    _drop(
        _mk_events(
            spark,
            [
                (1, "2024-01-01 10:00:00", "click", 1.0),
                (2, "2024-01-01 10:01:00", "view", 2.0),
            ],
        ),
        src,
        "b1",
    )
    stream = read_event_stream(spark, src)
    out = stream_dedup(stream, ["event_id"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .start()
    )
    try:
        q.processAllAvailable()
        _drop(
            _mk_events(
                spark,
                [
                    (1, "2024-01-01 10:00:00", "click", 1.0),  # dup -> dropped
                    (3, "2024-01-01 10:02:00", "click", 3.0),  # new -> kept
                ],
            ),
            src,
            "b2",
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT event_id FROM dedup_stream").collect()
    finally:
        q.stop()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3]


def test_stream_enrich_with_static(spark, tmp_path):
    """Stream-static join: each micro-batch row picks up its dimension
    attributes; unmatched keys survive (left join)."""
    from raft_c_spark.streaming import stream_enrich

    src = str(tmp_path / "enrich_src")
    os.makedirs(src)
    _drop(
        _mk_events(
            spark,
            [
                (1, "2024-01-01 10:00:00", "click", 1.0),  # user_id=1
                (2, "2024-01-01 10:01:00", "view", 2.0),
            ],
        ),
        src,
        "b1",
    )
    profiles = spark.createDataFrame(
        [(1, "gold")], "user_id long, tier string"
    )
    out = stream_enrich(read_event_stream(spark, src), profiles, "user_id")
    q = (
        out.select("event_id", "tier")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt_en"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            r["event_id"]: r["tier"]
            for r in spark.sql("SELECT * FROM enriched").collect()
        }
    finally:
        q.stop()
    assert rows == {1: "gold", 2: "gold"}  # both events are user 1


def test_stream_session_window(spark, tmp_path):
    """Native session windows: two event bursts 2h apart become two
    sessions once the watermark closes them."""
    from raft_c_spark.streaming import stream_session_agg

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    _drop(
        _mk_events(
            spark,
            [
                (1, "2024-01-01 10:00:00", "click", 1.0),
                (2, "2024-01-01 10:10:00", "click", 2.0),  # same session
                (3, "2024-01-01 13:00:00", "click", 4.0),  # new session
            ],
        ),
        src,
        "b1",
    )
    out = stream_session_agg(read_event_stream(spark, src), gap="30 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt_sw"))
        .start()
    )
    try:
        q.processAllAvailable()
        _drop(  # advance the watermark far enough to close both
            _mk_events(spark, [(4, "2024-01-01 20:00:00", "click", 0.0)]),
            src,
            "b2",
        )
        q.processAllAvailable()
        rows = sorted(
            (r["n_events"], r["session_value"])
            for r in spark.sql("SELECT * FROM sessions").collect()
        )
    finally:
        q.stop()
    assert rows == [(1, 4.0), (2, 3.0)]


def test_stream_results_batching(spark):
    df = spark.range(2500).select(
        F.col("id").alias("timestamp"), (F.col("id") * 1.0).alias("value")
    ).orderBy("timestamp")
    batches = list(stream_results(df, batch_size=1000))
    assert [len(b) for b in batches] == [1000, 1000, 500]
    flat = [r["timestamp"] for b in batches for r in b]
    assert flat == list(range(2500))  # order preserved across chunks


def test_stream_results_empty(spark):
    df = spark.range(0).select(F.col("id").alias("timestamp"))
    assert list(stream_results(df)) == []


def test_stream_results_interleaves(spark, tmp_path):
    """ts_stream contract: the first chunk must reach the consumer
    BEFORE the whole result materializes. Partition 1's kernel drops a
    marker file when it runs; with toLocalIterator's one-partition-at-
    a-time pulls the first batch (from partition 0) must arrive while
    the marker does not yet exist. Driven from a non-main thread, as
    the wire server's handler threads drive it."""
    import threading

    marker = str(tmp_path / "p1_ran")

    def kernel(batches):
        for pdf in batches:
            if (pdf["timestamp"] >= 5000).any():
                open(marker, "w").close()
            yield pdf

    df = (
        spark.range(10_000)
        .select(F.col("id").alias("timestamp"), (F.col("id") * 1.0).alias("value"))
        .repartitionByRange(2, "timestamp")
        .mapInPandas(kernel, "timestamp long, value double")
    )
    out: dict = {}

    def worker():
        it = stream_results(df, batch_size=1000)
        first = next(it)
        out["first"] = [r["timestamp"] for r in first]
        out["marker_before_rest"] = os.path.exists(marker)
        out["total"] = sum(len(b) for b in [first] + list(it))

    t = threading.Thread(target=worker, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "streaming deadlocked"
    assert len(out["first"]) == 1000
    assert out["first"] == list(range(1000))
    assert not out["marker_before_rest"], "partition 1 ran before first chunk"
    assert out["total"] == 10_000
    assert os.path.exists(marker)


def test_stream_results_in_handler_thread(spark):
    """The wire-server regression case: repeated streamed queries from
    a socketserver-like worker thread must not deadlock. Run two
    streams back-to-back on a worker thread with a hard timeout."""
    import threading

    out: dict = {}

    def worker():
        for i in range(2):
            df = spark.range(2500).select(
                F.col("id").alias("timestamp"), (F.col("id") * 1.0).alias("value")
            )
            out[i] = sum(len(b) for b in stream_results(df, 1000))

    t = threading.Thread(target=worker, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "streaming deadlocked"
    assert out == {0: 2500, 1: 2500}


def test_session_window_gap_boundary(spark, tmp_path):
    """Merge rule at the boundary: spacing strictly UNDER the gap
    or exactly EQUAL to the gap merges (Spark extends a session while
    next_ts ≤ last_ts + gap), strictly greater splits — the rule the
    stream_session_window oracle replays (brk when diff > gap)."""
    from raft_c_spark.streaming import stream_session_agg

    src = str(tmp_path / "sessb_src")
    os.makedirs(src)
    _drop(
        _mk_events(
            spark,
            [
                (1, "2024-01-01 10:00:00", "click", 1.0),
                (2, "2024-01-01 10:29:59", "click", 1.0),  # < gap: merge
                (3, "2024-01-01 10:59:59", "click", 1.0),  # = gap: MERGE
                (4, "2024-01-01 11:30:00", "click", 1.0),  # > gap: split
            ],
        ),
        src,
        "b1",
    )
    out = stream_session_agg(read_event_stream(spark, src), gap="30 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_b")
        .option("checkpointLocation", str(tmp_path / "ckpt_swb"))
        .start()
    )
    try:
        q.processAllAvailable()
        _drop(
            _mk_events(spark, [(5, "2024-01-02 10:00:00", "click", 0.0)]),
            src,
            "b2",
        )
        q.processAllAvailable()
        rows = sorted(
            r["n_events"]
            for r in spark.sql(
                "SELECT * FROM sessions_b WHERE n_events > 0"
            ).collect()
        )
    finally:
        q.stop()
    # events 1-3 chain into one session (29:59 < gap merges; exactly
    # 30:00 also merges — next start == open session end); event 4 at
    # 30:01 after event 3 is past the end → new session
    assert rows == [1, 3]


def test_stream_ingest_rejects_null_ts_consistently(spark, tmp_path):
    """Rows with a NULL event time are rejected in EVERY batch and
    counted in stats (reviewer r8: they were inserted when they
    arrived in the first batch and silently dropped afterwards —
    retention depended on arrival order)."""
    from raft_c_spark.streaming.ingest import EVENT_SCHEMA

    src = str(tmp_path / "null_src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [
            (1, None, 1, "click", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 10, 0), 1, "click", 2.0, "{}"),
        ],
        EVENT_SCHEMA,
    )
    _drop(b1, src, "b1")
    store = TimeSeriesStore(spark, str(tmp_path / "wh_null"))
    stats: dict = {}
    stream = read_event_stream(spark, src)
    q = stream_ingest_to_store(
        stream, store, "ndb", str(tmp_path / "ckpt_null"), stats=stats
    )
    try:
        q.processAllAvailable()
        b2 = spark.createDataFrame(
            [
                (3, None, 1, "click", 3.0, "{}"),
                (4, dt.datetime(2024, 1, 1, 10, 5), 1, "click", 4.0, "{}"),
            ],
            EVENT_SCHEMA,
        )
        _drop(b2, src, "b2")
        q.processAllAvailable()
    finally:
        q.stop()
    vals = sorted(r["value"] for r in store.read("ndb").collect())
    assert vals == [2.0, 4.0]  # both null-ts rows rejected
    assert stats.get("n_null_ts") == 2
