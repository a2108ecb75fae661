"""End-to-end query-language tests — the Spark analog of the
reference's storage suite (tests/timeseries_test.c:402-455): build a
real on-disk series via the language, query it back."""

from __future__ import annotations

import os
import random
import threading

import pytest

from raft_c_spark.catalog import CatalogError
from raft_c_spark.engine import Engine, ExecutionError
from raft_c_spark.operators.tsdb import InvalidRangeError

BASE = 1_700_000_000 * 10**9  # pinned epoch ns


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


@pytest.fixture()
def fixture_engine(spark, tmp_path):
    """90 points at randomized ≤115ms spacing, value = index
    (tests/timeseries_test.c:420-429, srand-like fixed seed)."""
    e = Engine(spark, warehouse=str(tmp_path / "whf"))
    e.execute("CREATEDB testdb")
    e.execute("USE testdb")
    e.execute("CREATE temperatures")
    rng = random.Random(47)
    ts = []
    t = BASE
    for i in range(90):
        t += rng.randint(1, 115_000) * 1_000  # ≤115ms in ns
        ts.append(t)
    vals = ",".join(f"({ts[i]}, {float(i)})" for i in range(90))
    e.execute(f"INSERT INTO temperatures VALUES {vals}")
    return e, ts


def _rows(df):
    return [(r["timestamp"], r["value"]) for r in df.collect()]


def test_ddl_meta_roundtrip(engine):
    engine.execute("CREATEDB db-one")
    engine.execute("CREATEDB db-two")
    dbs = [r["database"] for r in engine.execute(".databases").collect()]
    assert dbs == ["db-one", "db-two"]
    engine.execute("USE db-two")
    engine.execute("CREATE cpu")
    engine.execute("CREATE mem 7d 'ignore'")
    series = [r["series"] for r in engine.execute(".timeseries").collect()]
    assert series == ["cpu", "mem"]
    engine.execute("DELETE cpu")
    series = [r["series"] for r in engine.execute(".timeseries").collect()]
    assert series == ["mem"]
    engine.execute("DELETE db-one")
    dbs = [r["database"] for r in engine.execute(".databases").collect()]
    assert dbs == ["db-two"]


def test_use_missing_db(engine):
    with pytest.raises(ExecutionError):
        engine.execute("USE nope")


def test_insert_requires_series(engine):
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    with pytest.raises(ExecutionError):
        engine.execute("INSERT INTO ghost VALUES (1, 1.0)")


def test_full_scan_count_and_order(fixture_engine):
    e, ts = fixture_engine
    rows = _rows(e.execute("SELECT value FROM temperatures"))
    assert len(rows) == 90  # timeseries_test.c:132-153
    assert [r[0] for r in rows] == sorted(ts)
    assert [r[1] for r in rows] == [float(i) for i in range(90)]


def test_first_last_min_max(fixture_engine):
    e, ts = fixture_engine
    # first/last → rows 0 and 89 (timeseries_test.c:50-82)
    assert _rows(e.execute("SELECT earliest(value) FROM temperatures")) == [
        (ts[0], 0.0)
    ]
    assert _rows(e.execute("SELECT latest(value) FROM temperatures")) == [
        (ts[89], 89.0)
    ]
    # min/max over [ts[10], ts[80]] → records at index 10/80, inclusive
    q = f"FROM temperatures BETWEEN {ts[10]} AND {ts[80]}"
    assert _rows(e.execute(f"SELECT min(value) {q}")) == [(ts[10], 10.0)]
    assert _rows(e.execute(f"SELECT max(value) {q}")) == [(ts[80], 80.0)]


def test_randomized_range_queries(fixture_engine):
    e, ts = fixture_engine
    rng = random.Random(13)
    for _ in range(20):  # timeseries_test.c:270-308 (100 there)
        a, b = sorted(rng.sample(range(90), 2))
        rows = _rows(
            e.execute(f"SELECT value FROM temperatures BETWEEN {ts[a]} AND {ts[b]}")
        )
        assert len(rows) == b - a + 1  # inclusive bounds
        assert [r[0] for r in rows] == ts[a : b + 1]


def test_randomized_point_lookups(fixture_engine):
    e, ts = fixture_engine
    rng = random.Random(7)
    for _ in range(10):
        i = rng.randrange(90)
        rows = _rows(
            e.execute(
                f"SELECT value FROM temperatures BETWEEN {ts[i]} AND {ts[i]}"
            )
        )
        assert rows == [(ts[i], float(i))]


def test_invalid_range_errors(fixture_engine):
    e, ts = fixture_engine
    with pytest.raises(InvalidRangeError):
        e.execute(f"SELECT value FROM temperatures BETWEEN {ts[5]} AND {ts[1]}")


def test_sample_by_alignment(fixture_engine):
    # timeseries_test.c:84-130: every output timestamp ≡ 0 mod interval
    e, ts = fixture_engine
    for span, iv in [("1s", 10**9), ("2s", 2 * 10**9)]:
        rows = _rows(e.execute(f"SELECT avg(value) FROM temperatures SAMPLE BY {span}"))
        assert rows, span
        assert all(t % iv == 0 for t, _ in rows)
        # exclusive-bound check: manual replication
        buckets = {}
        for i, t in enumerate(ts):
            if t % iv == 0:
                continue  # boundary point in no bucket
            end = t - t % iv + iv
            buckets.setdefault(end, []).append(float(i))
        expect = sorted((k, sum(v) / len(v)) for k, v in buckets.items())
        assert [(t, pytest.approx(v)) for t, v in rows] == expect


def test_where_chain_and_limit(fixture_engine):
    e, ts = fixture_engine
    rows = _rows(
        e.execute("SELECT value FROM temperatures WHERE value > 12 AND value < 16")
    )
    assert [r[1] for r in rows] == [13.0, 14.0, 15.0]
    rows = _rows(e.execute("SELECT value FROM temperatures LIMIT 7"))
    assert len(rows) == 7


def test_ooo_and_duplicate_inserts(fixture_engine):
    """OOO + duplicate-ns inserts (timeseries_test.c:310-400; DP_INSERT
    lets identical-ns points coexist, src/timeseries.c:363-385)."""
    e, ts = fixture_engine
    # late point 30µs after ts[10], plus an exact duplicate of ts[20]
    late = ts[10] + 30_000
    e.execute(f"INSERT INTO temperatures VALUES ({late}, 999.0)")
    e.execute(f"INSERT INTO temperatures VALUES ({ts[20]}, 888.0)")
    rows = _rows(e.execute("SELECT value FROM temperatures"))
    assert len(rows) == 92
    assert [r[0] for r in rows] == sorted(ts + [late, ts[20]])
    # late point findable by exact lookup
    found = _rows(
        e.execute(f"SELECT value FROM temperatures BETWEEN {late} AND {late}")
    )
    assert found == [(late, 999.0)]
    # duplicate ns: both coexist
    dup = _rows(
        e.execute(f"SELECT value FROM temperatures BETWEEN {ts[20]} AND {ts[20]}")
    )
    assert sorted(v for _, v in dup) == [20.0, 888.0]


def test_duplication_ignore_policy(engine):
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s 'ignore'")
    engine.execute(f"INSERT INTO s VALUES ({BASE}, 1.0), ({BASE}, 2.0)")
    rows = _rows(engine.execute("SELECT value FROM s"))
    assert len(rows) == 1  # in-batch duplicate dropped
    engine.execute(f"INSERT INTO s VALUES ({BASE}, 3.0), ({BASE + 1}, 4.0)")
    rows = _rows(engine.execute("SELECT value FROM s"))
    assert [(t, v) for t, v in rows] == [(BASE, 1.0), (BASE + 1, 4.0)]


def test_duplication_update_policy(engine):
    """DP_UPDATE (reference comment src/timeseries.h:38-42, never
    implemented there): duplicate timestamps replace the stored value,
    newest wins — in-batch (last arrival) and across batches (merge
    rewrite of only the touched partitions)."""
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s 'update'")
    day = 86_400 * 10**9
    old = BASE - 3 * day  # different day partition
    engine.execute(
        f"INSERT INTO s VALUES ({old}, 0.5), ({BASE}, 1.0), ({BASE}, 2.0)"
    )
    rows = _rows(engine.execute("SELECT value FROM s"))
    assert rows == [(old, 0.5), (BASE, 2.0)]  # in-batch last wins
    engine.execute(f"INSERT INTO s VALUES ({BASE}, 3.0), ({BASE + 1}, 4.0)")
    rows = _rows(engine.execute("SELECT value FROM s"))
    # BASE overwritten, BASE+1 appended, untouched day partition intact
    assert rows == [(old, 0.5), (BASE, 3.0), (BASE + 1, 4.0)]
    # updating only the OLD day must leave the BASE day untouched
    engine.execute(f"INSERT INTO s VALUES ({old}, 9.5)")
    rows = _rows(engine.execute("SELECT value FROM s"))
    assert rows == [(old, 9.5), (BASE, 3.0), (BASE + 1, 4.0)]


def test_retention_read_filter(engine):
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s 1d")
    now = BASE + 3 * 86_400 * 10**9
    old = BASE  # 3 days before `now` → beyond 1d retention
    fresh = now - 3600 * 10**9
    engine.execute(f"INSERT INTO s VALUES ({old}, 1.0), ({fresh}, 2.0)")
    rows = _rows(engine.execute("SELECT value FROM s", now=now))
    assert rows == [(fresh, 2.0)]


def test_insert_now_and_relative_select(engine):
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s")
    now = BASE
    engine.execute("INSERT INTO s VALUES (now(), 5.5)", now=now)
    rows = _rows(
        engine.execute("SELECT value FROM s BETWEEN now() - 1h AND now()", now=now)
    )
    assert rows == [(now, 5.5)]


def test_delete_missing_raises(engine):
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    with pytest.raises(CatalogError):
        engine.execute("DELETE ghost-series FROM d")


def test_multi_aggregate_select(fixture_engine):
    """SELECT min(value), max(value), avg(value) — grammar-doc form
    (src/statement_parse.h:97), parser-unsupported in the reference."""
    e, ts = fixture_engine
    rows = e.execute(
        "SELECT min(value), max(value), avg(value) FROM temperatures"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["min_value"] == 0.0
    assert r["max_value"] == 89.0
    assert r["avg_value"] == pytest.approx(44.5)
    # empty range → empty frame, not a NULL row
    hi = ts[89] + 10**9
    assert (
        e.execute(
            f"SELECT min(value), avg(value) FROM temperatures "
            f"BETWEEN {hi} AND {hi + 1}"
        ).count()
        == 0
    )


def test_multi_aggregate_rejects_latest(engine):
    from raft_c_spark.frontend.ast import ParseError

    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s")
    with pytest.raises(ParseError):
        engine.execute("SELECT min(value), latest(value) FROM s")


@pytest.mark.parametrize(
    "query, message",
    [
        (
            "SELECT min(value), max(value) FROM s SAMPLE BY 1h FILL(prev)",
            "FILL supports single-aggregate sampling only",
        ),
        (
            "SELECT max(value) FROM s SAMPLE BY 1h FILL(null)",
            "FILL supports avg sampling only",
        ),
    ],
)
def test_fill_rejects_unsupported_sampling(engine, query, message):
    """FILL fills one avg series: a multi-aggregate or a non-avg
    sampler with FILL is refused, not silently answered as avg."""
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s")
    engine.execute("INSERT INTO s VALUES (1, 1.0)")
    with pytest.raises(ExecutionError, match=message):
        engine.execute(query)


def test_cold_start_reload(spark, tmp_path):
    """New Engine over an existing warehouse sees catalog + data —
    the reference's dbcontext_init/ts_init recovery (SURVEY §3.3),
    which for us is just read-back."""
    wh = str(tmp_path / "persisted")
    e1 = Engine(spark, warehouse=wh)
    e1.execute("CREATEDB d")
    e1.execute("USE d")
    e1.execute("CREATE s 7d 'ignore'")
    e1.execute(f"INSERT INTO s VALUES ({BASE}, 1.5), ({BASE + 1000}, 2.5)")

    e2 = Engine(spark, warehouse=wh)  # fresh instance, same warehouse
    assert [r["database"] for r in e2.execute(".databases").collect()] == ["d"]
    e2.execute("USE d")
    assert e2.catalog.series_opts("d", "s")["duplication"] == "ignore"
    # pin now(): the series has 7d retention and the fixture data is
    # at a fixed epoch
    rows = _rows(e2.execute("SELECT value FROM s", now=BASE + 3600 * 10**9))
    assert rows == [(BASE, 1.5), (BASE + 1000, 2.5)]


def test_dup_ignore_across_partition_days(engine):
    """'ignore' must catch duplicates already persisted in other
    inserts (partition-pruned anti-join path)."""
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s 'ignore'")
    day = 86_400 * 10**9
    engine.execute(f"INSERT INTO s VALUES ({BASE}, 1.0), ({BASE + day}, 2.0)")
    engine.execute(
        f"INSERT INTO s VALUES ({BASE}, 99.0), ({BASE + 2 * day}, 3.0)"
    )
    rows = _rows(engine.execute("SELECT value FROM s"))
    assert rows == [(BASE, 1.0), (BASE + day, 2.0), (BASE + 2 * day, 3.0)]


def test_compaction_preserves_results(spark, tmp_path):
    import glob

    wh = str(tmp_path / "cmp")
    e = Engine(spark, warehouse=wh)
    e.execute("CREATEDB d")
    e.execute("USE d")
    e.execute("CREATE s")
    for i in range(5):  # five appends → five file sets per partition
        e.execute(f"INSERT INTO s VALUES ({BASE + i * 1000}, {float(i)})")
    before = _rows(e.execute("SELECT value FROM s"))
    n_files_before = len(glob.glob(f"{wh}/d/points/series=s/*/*.parquet"))
    e.store.compact("d")
    after = _rows(e.execute("SELECT value FROM s"))
    n_files_after = len(glob.glob(f"{wh}/d/points/series=s/*/*.parquet"))
    assert after == before
    assert n_files_after < n_files_before


def test_compact_crash_between_renames_recovers(spark, tmp_path):
    """Simulate a compact() that crashed between its two renames (the
    live points dir renamed to .pre_compact, the new dir not yet in
    place): the next read must restore the backup and see all data —
    the old rmtree-then-rename swap returned an empty store forever
    (reviewer r8)."""
    import os

    wh = str(tmp_path / "crash")
    e = Engine(spark, warehouse=wh)
    e.execute("CREATEDB d")
    e.execute("USE d")
    e.execute("CREATE s")
    e.execute(f"INSERT INTO s VALUES ({BASE}, 1.0), ({BASE + 1000}, 2.0)")
    before = _rows(e.execute("SELECT value FROM s"))
    path = f"{wh}/d/points"
    os.rename(path, path + ".pre_compact")  # the crash window
    assert _rows(e.execute("SELECT value FROM s")) == before
    # and a subsequent compact still works end-to-end
    e.store.compact("d")
    assert _rows(e.execute("SELECT value FROM s")) == before
    # a compact straight after the crash restores the backup itself: it
    # holds the store's write lock, which the restore takes again
    os.rename(path, path + ".pre_compact")
    compact = threading.Thread(target=e.store.compact, args=("d",), daemon=True)
    compact.start()
    compact.join(timeout=120)
    assert not compact.is_alive()
    assert _rows(e.execute("SELECT value FROM s")) == before


def test_at_point_lookup(fixture_engine):
    """AT <time> — our grammar path for the reference's S_SINGLE
    selector (declared in its AST, src/statement_parse.h:192-203, but
    unreachable from its grammar)."""
    e, ts = fixture_engine
    assert _rows(e.execute(f"SELECT value FROM temperatures AT {ts[42]}")) == [
        (ts[42], 42.0)
    ]
    # duplicate-ns points: AT returns all of them
    e.execute(f"INSERT INTO temperatures VALUES ({ts[42]}, 777.0)")
    rows = _rows(e.execute(f"SELECT value FROM temperatures AT {ts[42]}"))
    assert sorted(v for _, v in rows) == [42.0, 777.0]
    # miss → empty
    assert e.execute(f"SELECT value FROM temperatures AT {ts[42] + 1}").count() == 0
    # with aggregate and relative time expressions
    assert _rows(
        e.execute(
            f"SELECT max(value) FROM temperatures AT {ts[42]}"
        )
    )[0][1] == 777.0


def test_insert_star_auto_timestamp(engine):
    """'*' timestamp wildcard (grammar doc TIMESTAMP ::= NUMBER | '*',
    src/statement_parse.h:135) — server-stamped now()."""
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s")
    engine.execute("INSERT INTO s VALUES (*, 12.2), (*, 19.2)")
    rows = _rows(engine.execute("SELECT value FROM s"))
    assert sorted(v for _, v in rows) == [12.2, 19.2]
    assert all(t > 1_600_000_000 * 10**9 for t, _ in rows)


def test_empty_insert_then_read(engine):
    """An empty batch must not poison the store directory. A ``points/``
    directory that holds only a ``_SUCCESS`` marker, and a series with
    no directory of its own, read as empty for SELECT, an ``ignore``
    INSERT and an ``update`` upsert."""
    engine.execute("CREATEDB d")
    engine.execute("USE d")
    engine.execute("CREATE s")
    assert engine.store.insert_rows("d", "s", []) == 0
    assert engine.execute("SELECT value FROM s").count() == 0
    engine.execute(f"INSERT INTO s VALUES ({BASE}, 5.0)")
    assert _rows(engine.execute("SELECT value FROM s")) == [(BASE, 5.0)]

    survivors = {"ignore": [(BASE, 1.0)], "update": [(BASE, 2.0)]}
    for store in ("marker", "other"):
        for policy, want in survivors.items():
            db = f"{store}_{policy}"
            engine.execute(f"CREATEDB {db}")
            engine.execute(f"USE {db}")
            engine.execute(f"CREATE p '{policy}'")
            engine.execute("CREATE q")
            if store == "marker":
                points = engine.store._points_path(db)
                os.makedirs(points)
                open(os.path.join(points, "_SUCCESS"), "w").close()
            else:
                engine.execute(f"INSERT INTO q VALUES ({BASE}, 9.0)")
            assert engine.execute("SELECT value FROM p").count() == 0
            engine.execute(f"INSERT INTO p VALUES ({BASE}, 1.0), ({BASE}, 2.0)")
            assert _rows(engine.execute("SELECT value FROM p")) == want


def test_f2_ooo_fixture_full(spark, tmp_path):
    """FIXTURES.md F2: the 90-point base plus 50 in-chunk-late points
    (+30µs) and 50 chunk-rotation-late points (+5s), random values —
    full scan returns the 190-row ordered superset and every late
    point is findable by exact lookup (timeseries_test.c:310-400)."""
    e = Engine(spark, warehouse=str(tmp_path / "whf2"))
    e.execute("CREATEDB testdb")
    e.execute("USE testdb")
    e.execute("CREATE temperatures")
    rng = random.Random(47)
    ts, t = [], BASE
    for i in range(90):
        t += rng.randint(1, 115_000) * 1_000
        ts.append(t)
    vals = ",".join(f"({ts[i]}, {float(i)})" for i in range(90))
    e.execute(f"INSERT INTO temperatures VALUES {vals}")

    late = []
    for _ in range(50):  # in-chunk OOO: +30µs
        late.append((ts[rng.randrange(90)] + 30_000, rng.random() * 50))
    for _ in range(50):  # beyond-chunk OOO: +5s
        late.append((ts[rng.randrange(90)] + 5 * 10**9, rng.random() * 50))
    # arrival order shuffled — the store must not care
    rng.shuffle(late)
    batch = ",".join(f"({t}, {v})" for t, v in late)
    e.execute(f"INSERT INTO temperatures VALUES {batch}")

    rows = _rows(e.execute("SELECT value FROM temperatures"))
    assert len(rows) == 190
    assert [r[0] for r in rows] == sorted(
        ts + [t for t, _ in late]
    )  # ordered superset
    # randomized late-point findability
    for t_late, v_late in rng.sample(late, 10):
        found = _rows(e.execute(f"SELECT value FROM temperatures AT {t_late}"))
        assert (t_late, v_late) in found


def test_sampled_min_honors_function(spark, tmp_path):
    """Extension divergence: `SELECT min(value) ... SAMPLE BY` buckets
    the requested aggregate (the reference's sampler always averages,
    whatever function was written)."""
    from raft_c_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh_sm"))
    eng.execute("CREATEDB smdb")
    eng.execute("USE smdb")
    eng.execute("CREATE s")
    eng.execute("INSERT INTO s VALUES (5, 9.0), (7, 1.0), (15, 4.0)")
    out = {
        r["timestamp"]: r["value"]
        for r in eng.execute("SELECT min(value) FROM s SAMPLE BY 10").collect()
    }
    assert out == {10: 1.0, 20: 4.0}


def test_sampled_multi_agg_through_parser(spark, tmp_path):
    from raft_c_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh_smm"))
    eng.execute("CREATEDB smmdb")
    eng.execute("USE smmdb")
    eng.execute("CREATE s")
    eng.execute("INSERT INTO s VALUES (5, 9.0), (7, 1.0), (15, 4.0)")
    rows = eng.execute(
        "SELECT min(value), max(value), avg(value) FROM s SAMPLE BY 10"
    ).collect()
    got = {r["timestamp"]: (r["min_value"], r["max_value"], r["avg_value"]) for r in rows}
    assert got == {10: (1.0, 9.0, 5.0), 20: (4.0, 4.0, 4.0)}


def test_recreate_preserves_series_options(spark, tmp_path):
    """Re-CREATE of an existing series with no options keeps its
    retention/duplication (reviewer r8: it used to silently reset an
    'ignore' series to 'insert'); re-CREATE with options updates only
    the provided ones."""
    e = Engine(spark, warehouse=str(tmp_path / "rc"))
    e.execute("CREATEDB d")
    e.execute("USE d")
    e.execute("CREATE s 7d 'ignore'")
    msg = e.execute("CREATE s").first()["status"]
    assert "already exists" in msg
    opts = e.catalog.series_opts("d", "s")
    assert opts["duplication"] == "ignore"
    assert opts["retention_ns"] == 7 * 86_400 * 10**9
    e.execute("CREATE s 'update'")
    opts = e.catalog.series_opts("d", "s")
    assert opts["duplication"] == "update"
    assert opts["retention_ns"] == 7 * 86_400 * 10**9  # kept


def test_negative_literals_and_exact_ns_where(spark, tmp_path):
    """Unary-minus extension + integer-exact WHERE bounds: negative
    values insert and filter correctly, and an epoch-ns WHERE bound
    one count away from a point must distinguish them (a float-coerced
    bound rounds both to the same double — doubles near 1.7e18 are
    spaced 256 apart)."""
    e = Engine(spark, warehouse=str(tmp_path / "neg"))
    e.execute("CREATEDB d")
    e.execute("USE d")
    e.execute("CREATE s")
    t = 1_699_999_999_999_999_900
    e.execute(f"INSERT INTO s VALUES ({t}, -2.5), ({t + 7}, 1.0)")
    rows = _rows(e.execute("SELECT value FROM s WHERE value < -2"))
    assert rows == [(t, -2.5)]
    rows = _rows(
        e.execute(f"SELECT value FROM s WHERE timestamp > {t}")
    )
    assert rows == [(t + 7, 1.0)]


def test_value_insert_honors_now_pin(spark, tmp_path):
    """The VALUE / '*' insert forms stamp at parse time (reference
    semantics) but must honor the engine's pinned now for
    deterministic tests (reviewer r8)."""
    e = Engine(spark, warehouse=str(tmp_path / "pin"))
    e.execute("CREATEDB d")
    e.execute("USE d")
    e.execute("CREATE s")
    e.execute("INSERT INTO s VALUE 5", now=BASE)
    e.execute("INSERT INTO s VALUES (*, 6)", now=BASE + 1)
    rows = _rows(e.execute("SELECT value FROM s"))
    assert rows == [(BASE, 5.0), (BASE + 1, 6.0)]


def test_drop_and_vacuum_escaped_series_names(spark, tmp_path):
    """Series names with Hive-escaped characters (':' writes as
    series=cpu%3Aload) must still be droppable and vacuumable —
    joining the raw name silently no-op'd (reviewer r8)."""
    from raft_c_spark.sources.tsstore import TimeSeriesStore

    st = TimeSeriesStore(spark, str(tmp_path / "esc"))
    day = 86_400 * 10**9
    st.insert_rows("d", "cpu:load", [(BASE, 1.0), (BASE + 3 * day, 2.0)])
    assert st.read("d", series="cpu:load").count() == 2
    st.vacuum("d", "cpu:load", retention_ns=day, now=BASE + 4 * day)
    assert st.read("d", series="cpu:load").count() == 1
    st.drop_series("d", "cpu:load")
    assert st.read("d", series="cpu:load").count() == 0


def test_ts_avg_empty_input_empty_frame(spark):
    """Groupless ts_avg on empty input returns an EMPTY frame like its
    sibling aggregates, not one all-NULL row (reviewer r8)."""
    from raft_c_spark.operators import tsdb
    from raft_c_spark.sources.tsstore import POINT_SCHEMA

    empty = spark.createDataFrame([], POINT_SCHEMA)
    assert tsdb.ts_avg(empty, group_by_series=False).count() == 0
