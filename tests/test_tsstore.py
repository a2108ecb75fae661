"""TimeSeriesStore: fixed store schema, series-scoped reads, the
day-partition expression and the per-statement Spark job budget."""

from __future__ import annotations

import itertools
import os

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
    is one write job, and CREATE/USE replies collect without a job."""
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    for ddl in ("CREATEDB d", "USE d", "CREATE s"):
        assert jobs_in(spark, lambda: e.execute(ddl).collect())[0] == 0, ddl

    vals = ",".join(f"({BASE + k * 10**9}, {k}.5)" for k in range(12))
    for _ in range(2):  # the first INSERT creates the directories
        n, reply = jobs_in(
            spark, lambda: e.execute(f"INSERT INTO s VALUES {vals}").collect()
        )
        assert reply[0]["status"] == "12 records inserted into s"
        assert n == 1

    n, df = jobs_in(spark, lambda: e.store.read("d", "s"))
    assert n == 0
    assert df.count() == 24


@pytest.mark.parametrize(
    "t, day", [(-1, 0), (-DAY_NS - 1, -1), (-DAY_NS, -1), (0, 0)]
)
def test_pre_1970_day_partition_matches_bulk_path(spark, tmp_path, t, day):
    """``insert_rows`` and ``insert_df`` put a point in the same
    ``day=`` directory: both use Spark's ``div``, which truncates
    toward zero, never Python's flooring ``//``."""

    def days(st):
        base = os.path.join(st.warehouse, "d", "points", "series=s")
        return sorted(os.listdir(base))

    rows_store = TimeSeriesStore(spark, str(tmp_path / "rows"))
    rows_store.insert_rows("d", "s", [(t, 1.0)])
    df_store = TimeSeriesStore(spark, str(tmp_path / "df"))
    df_store.insert_df("d", spark.createDataFrame([("s", t, 1.0)], POINT_SCHEMA))
    assert days(rows_store) == days(df_store) == [f"day={day}"]
    assert _points(rows_store.read("d", "s")) == [("s", t, 1.0)]
    # range reads bound ``day`` with the same expression
    assert _points(rows_store.read("d", "s", t0=t, t1=t)) == [("s", t, 1.0)]
    assert _points(rows_store.read("d", "s", t0=t + 1)) == []
    assert _points(rows_store.read("d", "s", t1=t - 1)) == []
