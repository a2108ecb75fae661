"""TimeSeriesStore: fixed store schema, series-scoped reads, the
day-partition expression, the per-statement Spark job budget and the
driver-side point writer."""

from __future__ import annotations

import itertools
import os
import sys
import threading

import pytest

from raft_c_spark.engine import Engine
from raft_c_spark.sources.tsstore import DAY_NS, POINT_SCHEMA, TimeSeriesStore

BASE = 1_700_000_000 * 10**9  # pinned epoch ns

_groups = itertools.count()


def jobs_in(spark, fn):
    """(number of Spark jobs ``fn()`` started, its result), counted by
    job group."""
    sc = spark.sparkContext
    gid = f"tsstore-jobs-{next(_groups)}"
    sc.setJobGroup(gid, "job budget")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid)), out


def _points(df):
    return sorted((r["series"], r["timestamp"], r["value"]) for r in df.collect())


def test_series_names_are_not_retyped(spark, tmp_path):
    """Partition-type inference read series ``007`` back as the int 7,
    so ``7`` matched both series, and series ``2024-01-01`` as a date.
    The fixed schema keeps every name a string and every series its
    own points, whichever names share the store."""
    st = TimeSeriesStore(spark, str(tmp_path / "wh"))
    string = POINT_SCHEMA["series"].dataType
    for db, names in (("ints", ("7", "007")), ("dates", ("2024-01-01",))):
        for n, name in enumerate(names):
            st.insert_rows(db, name, [(BASE + n, float(n)), (BASE + DAY_NS + n, n + 0.5)])
            for i, seen in enumerate(names[: n + 1]):
                df = st.read(db, series=seen)
                assert df.schema["series"].dataType == string
                assert _points(df) == [
                    (seen, BASE + i, float(i)),
                    (seen, BASE + DAY_NS + i, i + 0.5),
                ]
            everything = st.read(db)
            assert everything.schema["series"].dataType == string
            assert sorted({r["series"] for r in everything.collect()}) == sorted(
                names[: n + 1]
            )


def test_statement_job_budget(spark, tmp_path):
    """Only the jobs that compute an answer run: a store read starts
    none before execute, a 12-point INSERT under the ``insert`` policy
    starts none (the driver writes and renames its file, leaving no
    committer or staging entry behind), and CREATE/USE replies collect
    without a job."""
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    for ddl in ("CREATEDB d", "USE d", "CREATE s"):
        assert jobs_in(spark, lambda: e.execute(ddl).collect())[0] == 0, ddl

    vals = ",".join(f"({BASE + k * 10**9}, {k}.5)" for k in range(12))
    for _ in range(2):  # the first INSERT creates the directories
        n, reply = jobs_in(
            spark, lambda: e.execute(f"INSERT INTO s VALUES {vals}").collect()
        )
        assert reply[0]["status"] == "12 records inserted into s"
        assert n == 0
    points = os.path.join(e.warehouse, "d", "points")
    leftovers = [
        os.path.join(d, name)
        for d, dirs, files in os.walk(points)
        for name in dirs + files
        if name == "_temporary" or name.startswith(".")
    ]
    assert leftovers == []

    n, df = jobs_in(spark, lambda: e.store.read("d", "s"))
    assert n == 0
    assert df.count() == 24


def _point_dirs(st):
    """``series=…/day=…`` directories holding a points file."""
    base = os.path.join(st.warehouse, "d", "points")
    return sorted(
        os.path.relpath(d, base)
        for d, _, files in os.walk(base)
        if any(f.endswith(".parquet") for f in files)
    )


@pytest.mark.parametrize(
    "t, day, series",
    [
        pytest.param(t, day, "s", id=f"{t}-{day}")
        for t, day in [(-1, 0), (-DAY_NS - 1, -1), (-DAY_NS, -1), (0, 0)]
    ]
    + [
        pytest.param(-DAY_NS - 1, -1, name, id=name)
        for name in ("cpu:load", "a=b", "50%", "x/y")
    ],
)
def test_pre_1970_day_partition_matches_bulk_path(spark, tmp_path, t, day, series):
    """``insert_rows`` and ``insert_df`` put a point in the same
    ``series=``/``day=`` directory: both use Spark's partition-path
    escaping for the series name, and truncate the day toward zero like
    Spark's ``div``, never with Python's flooring ``//``."""
    rows_store = TimeSeriesStore(spark, str(tmp_path / "rows"))
    rows_store.insert_rows("d", series, [(t, 1.0)])
    df_store = TimeSeriesStore(spark, str(tmp_path / "df"))
    df_store.insert_df("d", spark.createDataFrame([(series, t, 1.0)], POINT_SCHEMA))
    assert _point_dirs(rows_store) == _point_dirs(df_store)
    [path] = _point_dirs(rows_store)
    assert path.split(os.sep)[-1] == f"day={day}"
    assert _points(rows_store.read("d", series)) == [(series, t, 1.0)]
    # range reads bound ``day`` with the same expression
    assert _points(rows_store.read("d", series, t0=t, t1=t)) == [(series, t, 1.0)]
    assert _points(rows_store.read("d", series, t0=t + 1)) == []
    assert _points(rows_store.read("d", series, t1=t - 1)) == []


def test_concurrent_inserts_all_land(spark, tmp_path):
    """INSERTs from two connections at once, into different series of
    one store: every call succeeds and every point reads back. As Spark
    write jobs they shared ``points/_temporary``, and one job's cleanup
    deleted the other's task output."""
    st = TimeSeriesStore(spark, str(tmp_path / "wh"))
    calls, errors = 25, []

    def writer(series):
        for k in range(calls):
            batch = [(BASE + (k * 12 + i) * 10**9, float(i)) for i in range(12)]
            try:
                st.insert_rows("d", series, batch)
            except Exception as exc:  # collected for the assertion below
                errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(s,)) for s in ("a", "b")]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    for s in ("a", "b"):
        assert st.read("d", s).count() == calls * 12


def test_policy_switch_mixes_driver_and_spark_files(spark, tmp_path):
    """Driver-written files and Spark-written files share a partition:
    an ``update`` INSERT after ``insert``-policy INSERTs replaces the
    colliding value (newest wins), ``compact`` keeps every point, and a
    staging file left by a crashed writer is never read and is gone
    after ``compact``."""
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    for ddl in ("CREATEDB d", "USE d", "CREATE s"):
        e.execute(ddl)
    e.execute(f"INSERT INTO s VALUES ({BASE}, 1.0), ({BASE + 1}, 2.0)")
    e.execute(f"INSERT INTO s VALUES ({BASE + DAY_NS}, 3.0)")
    e.execute("CREATE s 'update'")
    e.execute(f"INSERT INTO s VALUES ({BASE + 1}, 20.0), ({BASE + 2}, 4.0)")
    want = [
        ("s", BASE, 1.0),
        ("s", BASE + 1, 20.0),
        ("s", BASE + 2, 4.0),
        ("s", BASE + DAY_NS, 3.0),
    ]
    assert _points(e.store.read("d", "s")) == want

    series_dir = os.path.join(e.warehouse, "d", "points", "series=s")
    torn = ".part-crashed.snappy.parquet.tmp"
    with open(os.path.join(series_dir, f"day={BASE // DAY_NS}", torn), "wb") as f:
        f.write(b"PAR1 torn")
    assert _points(e.store.read("d", "s")) == want

    e.store.compact("d")
    assert _points(e.store.read("d", "s")) == want
    assert not any(torn in files for _, _, files in os.walk(series_dir))
