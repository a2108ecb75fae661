"""TimeSeriesStore: fixed store schema, series-scoped reads, the
day-partition expression, the per-statement Spark job budget, the
driver-side point writer and reader, and reads and writes during
``compact``."""

from __future__ import annotations

import math
import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from raft_c_spark.engine import Engine
from raft_c_spark.sources import tsstore
from raft_c_spark.sources.tsstore import DAY_NS, POINT_SCHEMA, TimeSeriesStore, local_frame
from tests.harness import jobs_in, same_bits

BASE = 1_700_000_000 * 10**9  # pinned epoch ns


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


def test_statement_job_budget(spark, tmp_path, monkeypatch):
    """Over a small series no statement runs a Spark job: CREATE/USE
    and meta replies, 12-point INSERTs under the ``insert`` policy (the
    driver writes and renames its file, leaving no committer or staging
    entry behind), a store read, and a SELECT of every kind, answered
    on the driver. Served over the wire, none of them builds its
    answer's DataFrame."""
    from raft_c_spark import wire

    built = []
    monkeypatch.setattr(
        tsstore, "local_frame", lambda *a: built.append(a) or local_frame(*a)
    )
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    server = wire.serve(e)
    client = wire.WireClient(*server.server_address)
    try:
        for ddl in ("CREATEDB d", "USE d", "CREATE s", ".databases", ".timeseries"):
            n, reply = jobs_in(spark, lambda: client.execute(ddl))
            assert (n, reply.rc) == (0, 0), (ddl, reply)
        model = []
        for batch in _small_batches():  # the first INSERT creates the directories
            vals = ",".join(f"({t}, {v})" for t, v in batch)
            n, reply = jobs_in(spark, lambda: client.execute(f"INSERT INTO s VALUES {vals}"))
            assert reply.message == "12 records inserted into s"
            assert n == 0
            model += batch
        for stmt, want, _ in _select_cases(sorted(model)):
            n, reply = jobs_in(spark, lambda: client.execute(stmt))
            assert n == 0, stmt
            if stmt.startswith("SELECT min(value), max(value)"):
                assert reply.rc == 0 and len(reply.message.split(",")) == 3, reply
            else:
                assert [t for t, _ in reply] == [w[0] for w in want], (stmt, reply)
    finally:
        client.close()
        server.shutdown()
        server.server_close()
    assert built == []
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
    assert df.count() == 72


HOUR_NS = 3_600_000_000_000
#: a point every 70 minutes from ``BASE``: 60 points over 4 day directories
STEP_NS = 70 * 60 * 10**9


def _small_series(spark, tmp_path):
    """An Engine over series ``s`` of six 12-point INSERTs, the last
    one repeating earlier timestamps with other values (duplicate-ns
    points coexist under the ``insert`` policy), and the Python model
    of its points sorted by (timestamp, value)."""
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    for ddl in ("CREATEDB d", "USE d", "CREATE s"):
        e.execute(ddl)
    model = []
    for batch in _small_batches():
        e.execute("INSERT INTO s VALUES " + ",".join(f"({t}, {v})" for t, v in batch))
        model += batch
    return e, sorted(model)


def _small_batches() -> list[list[tuple[int, float]]]:
    """``_small_series``' six INSERT batches of 12 points."""
    return [
        [
            (BASE + ((i * 12 + j) % 60) * STEP_NS, float((i * 12 + j) * 37 % 23) + 0.5)
            for j in range(12)
        ]
        for i in range(6)
    ]


#: the exchange a multi-partition read puts under each statement kind
_SORT = "Exchange rangepartitioning(timestamp"
_AGG = "Exchange SinglePartition"


def _select_cases(pts):
    """(statement, expected rows as (timestamp, value) tuples, or the
    multi-aggregate's one (min, max, avg) row, the exchange its plan
    has over more than one partition) over the model ``pts``. A top-k
    (LIMIT over the sort, ``earliest``) merges its partitions' heaps
    inside its own operator, so it has no exchange to name."""
    t0, t1 = BASE + 7 * STEP_NS, BASE + 50 * STEP_NS
    rng = [(t, v) for t, v in pts if t0 <= t <= t1]
    vals = [v for _, v in rng]
    at = pts[20][0]
    # SAMPLE BY: t0 rounds down to an hour, bucket (end - 1h, end)
    # excludes both ends, label = end, buckets ending at or after t1
    # are dropped
    buckets: dict[int, list[float]] = {}
    for t, v in pts:
        if t0 - t0 % HOUR_NS <= t <= t1 and t % HOUR_NS:
            end = t - t % HOUR_NS + HOUR_NS
            if end < t1:
                buckets.setdefault(end, []).append(v)
    between = f"FROM s BETWEEN {t0} AND {t1}"
    return [
        (f"SELECT value {between}", rng, _SORT),
        (f"SELECT value FROM s AT {at}", [(t, v) for t, v in pts if t == at], _SORT),
        (
            f"SELECT avg(value) {between} SAMPLE BY 1h",
            [(e, sum(vs) / len(vs)) for e, vs in sorted(buckets.items())],
            "Exchange hashpartitioning(bucket_ts",
        ),
        (
            f"SELECT min(value), max(value), avg(value) {between}",
            [(min(vals), max(vals), sum(vals) / len(vals))],
            _AGG,
        ),
        (
            f"SELECT value {between} WHERE value > 4 AND value < 15 LIMIT 7",
            [(t, v) for t, v in rng if 4 < v < 15][:7],
            None,
        ),
        (f"SELECT min(value) {between}", [min(rng, key=lambda p: (p[1], p[0]))], _AGG),
        (f"SELECT max(value) {between}", [min(rng, key=lambda p: (-p[1], p[0]))], _AGG),
        (f"SELECT avg(value) {between}", [(t1, sum(vals) / len(vals))], _AGG),
        (f"SELECT latest(value) {between}", [max(rng)], _AGG),
        (f"SELECT earliest(value, 3) {between}", rng[:3], None),
    ]


def _rows_match(got, want) -> bool:
    """Equal rows, cell by cell; floats (averages) up to a relative
    1e-9."""
    return len(got) == len(want) and all(
        len(g) == len(w)
        and all(
            a == b
            or (isinstance(a, float) and isinstance(b, float)
                and abs(a - b) <= 1e-9 * max(1.0, abs(b)))
            for a, b in zip(g, w)
        )
        for g, w in zip(got, want)
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_driver_answers(spark, e, pts):
    """Every ``_select_cases`` statement collects without a Spark job
    and returns the model's rows in the model's order, and used as a
    DataFrame the answer is a local relation, with no parquet scan and
    no exchange in its plan."""
    for stmt, want, _ in _select_cases(pts):
        df = e.execute(stmt)
        n, rows = jobs_in(spark, df.collect)
        assert n == 0, stmt
        assert _rows_match([tuple(r) for r in rows], want), (stmt, rows, want)
        plan = _plan(df)
        assert "Exchange" not in plan, stmt
        assert "LocalTableScan" in plan and "FileScan" not in plan, (stmt, plan)


def test_small_series_select_runs_no_job(spark, tmp_path):
    """A SELECT over a series whose pruned files are few and small reads
    them on the driver and answers there, whatever its kind."""
    _assert_driver_answers(spark, *_small_series(spark, tmp_path))


def test_split_size_conf_keeps_driver_answer(spark, tmp_path):
    """``spark.sql.files.maxPartitionBytes`` sizes Spark's file splits;
    a driver-side read has none, so at 1 KiB, below the small series'
    files, every statement is still answered on the driver."""
    e, pts = _small_series(spark, tmp_path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        _assert_driver_answers(spark, e, pts)
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("cap", ["files", "bytes"])
def test_large_scan_keeps_exchanges(spark, tmp_path, monkeypatch, cap):
    """A read over more files or bytes than one task takes — forced
    here by lowering ``ONE_TASK_MAX_FILES`` or ``ONE_TASK_MAX_BYTES``
    to 1, below the small series' 2–3 files of about 1 KiB each per
    day — keeps Spark's file splits: point results keep the global
    sort's range exchange, aggregates their exchange, and every
    statement returns the same rows as the one-partition plan."""
    e, pts = _small_series(spark, tmp_path)
    cases = _select_cases(pts)
    small = [[tuple(r) for r in e.execute(stmt).collect()] for stmt, _, _ in cases]
    monkeypatch.setattr(tsstore, f"ONE_TASK_MAX_{cap.upper()}", 1)
    for (stmt, want, exchange), rows in zip(cases, small):
        df = e.execute(stmt)
        plan = _plan(df)
        assert "Coalesce" not in plan, stmt
        if exchange is not None:
            assert exchange in plan, (stmt, plan)
        assert [tuple(r) for r in df.collect()] == rows, stmt
        assert _rows_match(rows, want), stmt


def _ns(t: int) -> str:
    """``t`` as a statement's time expression (there is no unary minus)."""
    return f"0 - {-t}" if t < 0 else str(t)


#: a point every 40 minutes: 36 a day, on every day edge
EDGE_STEP_NS = 40 * 60 * 10**9


def _mixed_series(spark, tmp_path):
    """An Engine over series ``cpu:load`` (``series=cpu%3Aload`` on
    disk) with a point every ``EDGE_STEP_NS`` from two days before the
    epoch to two days after: day directories -2, -1, 0 (which holds
    both sides of the epoch, as ``div`` truncates toward zero) and 1.
    Every day holds files of more than one writer: driver files of
    ``insert``-policy INSERTs beside Spark files of ``compact`` and of
    an ``update``-policy INSERT, whose Arrow schemas differ in field
    nullability and metadata. Some timestamps hold two points."""
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    for ddl in ("CREATEDB d", "USE d", "CREATE cpu:load"):
        e.execute(ddl)

    def insert(batch):
        e.execute(
            "INSERT INTO cpu:load VALUES "
            + ",".join(f"({_ns(t)}, {v})" for t, v in batch)
        )

    grid = [-2 * DAY_NS + k * EDGE_STEP_NS for k in range(4 * 36 + 1)]
    for i in range(3):
        insert([(t, float(k * 37 % 23) + 0.5) for k, t in enumerate(grid) if k % 3 == i])
    insert([(t, 7.25) for t in grid[::9]])
    e.store.compact("d")
    insert([(t, 3.0) for t in grid[::5]])
    e.execute("CREATE cpu:load 'update'")
    insert([(t, 11.5) for t in grid[30:50]])
    e.execute("CREATE cpu:load 'insert'")
    insert([(t, 1.5) for t in grid[::7]])
    series_dir = os.path.join(e.warehouse, "d", "points", "series=cpu%3Aload")
    for day in (-2, -1, 0, 1):
        names = os.listdir(os.path.join(series_dir, f"day={day}"))
        # Spark's writers name files part-<task>-<uuid>.c000…
        assert {".c000." in n for n in names if not n.startswith(".")} == {True, False}
    return e, grid


@pytest.mark.parametrize(
    "retention, special",
    [(None, None), ("1d", None)]
    + [(None, v) for v in (math.nan, math.inf, -math.inf, 1e28, -3.5e30)],
    ids=["None", "1d", "nan", "inf", "-inf", "1e28", "-3.5e30"],
)
def test_local_read_matches_file_splits(spark, tmp_path, monkeypatch, retention, special):
    """The driver's answer and the Spark plan over Spark's file splits
    agree for every SELECT kind, floats bit for bit, over files of
    every writer, a Hive-escaped series name, pre-1970 points, bounds
    on day edges, empty ranges and (with ``retention``) a retention cut
    inside the pre-1970 day 0. With ``special``, bulk-inserted points of
    that value (NaN, ±inf, or past DECIMAL(38,10)'s 28 integer digits)
    sit beside the others on days -1 and 0: the two paths give the same
    rows or both raise. The splits are forced by ``ONE_TASK_MAX_FILES``
    and ``ONE_TASK_MAX_BYTES`` of 1; a read that lists no file is local
    either way."""
    e, grid = _mixed_series(spark, tmp_path)
    now = DAY_NS // 2  # a 1d retention keeps timestamps from -DAY_NS // 2
    if retention is not None:
        e.execute(f"CREATE cpu:load {retention}")
    if special is not None:
        rows = [("cpu:load", t, special) for t in (grid[60], grid[61], grid[100] + 1)]
        e.store.insert_df("d", spark.createDataFrame(rows, POINT_SCHEMA))
    ranges = {
        "all": "",
        "wide": f" BETWEEN {_ns(-3 * DAY_NS)} AND {3 * DAY_NS}",
        "day_edges": f" BETWEEN {_ns(-DAY_NS)} AND {DAY_NS - 1}",
        "epoch": f" BETWEEN 0 AND {DAY_NS}",
        "between_points": f" BETWEEN {_ns(grid[40] + 1)} AND {_ns(grid[41] - 1)}",
        "no_file": f" BETWEEN {10 * DAY_NS} AND {11 * DAY_NS}",
    }
    kinds = [
        "SELECT value FROM cpu:load{r}",
        "SELECT avg(value) FROM cpu:load{r} SAMPLE BY 1h",
        "SELECT max(value) FROM cpu:load{r} SAMPLE BY 3h",
        "SELECT min(value), avg(value) FROM cpu:load{r} SAMPLE BY 3h",
        "SELECT avg(value) FROM cpu:load{r} SAMPLE BY 3h FILL(prev)",
        "SELECT avg(value) FROM cpu:load{r} SAMPLE BY 3h FILL(null)",
        "SELECT avg(value) FROM cpu:load{r} SAMPLE BY 3h FILL(2.5)",
        "SELECT min(value) FROM cpu:load{r}",
        "SELECT max(value) FROM cpu:load{r}",
        "SELECT avg(value) FROM cpu:load{r}",
        "SELECT min(value), max(value), avg(value) FROM cpu:load{r}",
        "SELECT value FROM cpu:load{r} WHERE value > 4 AND value < 15 LIMIT 7",
        "SELECT value FROM cpu:load{r} WHERE value >= 11.5 AND timestamp != 0",
        "SELECT latest(value) FROM cpu:load{r}",
        "SELECT earliest(value, 3) FROM cpu:load{r}",
    ]
    cases = [(name, k.format(r=r)) for name, r in ranges.items() for k in kinds] + [
        (f"at_{t}", f"SELECT value FROM cpu:load AT {_ns(t)}")
        for t in (-DAY_NS, grid[9], 0, grid[40] + 1, grid[60])
    ]

    gate, listed = TimeSeriesStore._one_task, []

    def counting(self, *args):
        files = gate(self, *args)
        listed.append(files)
        return files

    monkeypatch.setattr(TimeSeriesStore, "_one_task", counting)

    def run(stmt):
        """(plan, rows), or (None, the error) when the statement raises."""
        listed.clear()
        try:
            df = e.execute(stmt, now=now)
            plan = _plan(df)
            return plan, [tuple(r) for r in df.collect()]
        except Exception as exc:  # the other path must raise too
            return None, exc

    local, has_files = {}, {}
    for name, stmt in cases:
        plan, local[stmt] = run(stmt)
        has_files[stmt] = bool(listed[0])
        if plan is None:
            assert special is not None, (stmt, local[stmt])
            continue
        assert "LocalTableScan" in plan and "FileScan" not in plan, (stmt, plan)
        if name == "wide":
            assert local[stmt], stmt
    monkeypatch.setattr(tsstore, "ONE_TASK_MAX_FILES", 1)
    monkeypatch.setattr(tsstore, "ONE_TASK_MAX_BYTES", 1)
    raised = 0
    for name, stmt in cases:
        plan, rows = run(stmt)
        if isinstance(local[stmt], Exception) or plan is None:
            assert isinstance(local[stmt], Exception) and plan is None, (stmt, local[stmt], rows)
            raised += 1
            continue
        assert ("FileScan" in plan) == has_files[stmt], (stmt, plan)
        assert same_bits(local[stmt], rows), (stmt, local[stmt], rows)
    assert not has_files[kinds[0].format(r=ranges["no_file"])]
    # a finite value past DECIMAL(38,10) fails the averages over it;
    # NaN and ±inf cast to NULL, which averages pass over
    assert (raised > 0) == (special is not None and 1e28 <= abs(special) < math.inf)


def test_local_read_of_a_vanished_file_raises(spark, tmp_path, monkeypatch):
    """A data file the one-task gate listed and that is gone when the
    driver reads it (a concurrent ``update`` INSERT or ``compact``
    replaced it) fails the statement; it never answers from the files
    that remain."""
    e, _ = _small_series(spark, tmp_path)
    listed = TimeSeriesStore._one_task

    def vanishing(self, *args):
        files = listed(self, *args)
        os.remove(files[0])
        return files

    monkeypatch.setattr(TimeSeriesStore, "_one_task", vanishing)
    with pytest.raises(FileNotFoundError):
        e.execute("SELECT value FROM s")


def test_concurrent_ignore_inserts_all_land(spark, tmp_path):
    """``ignore``-policy INSERTs from two connections at once: each is a
    Spark append job, and two of them shared ``points/_temporary`` — one
    job's cleanup deleted the other's task output, and statements
    failed. The store's write lock runs them one at a time, so every
    statement succeeds and every point reads back."""
    st = TimeSeriesStore(spark, str(tmp_path / "wh"))
    calls, errors = 8, []
    # both threads start each statement together
    together = threading.Barrier(2, timeout=600)

    def writer(series):
        for k in range(calls):
            batch = [(BASE + (k * 12 + i) * 10**9, float(i)) for i in range(12)]
            together.wait()
            try:
                st.insert_rows("d", series, batch, duplication="ignore")
            except Exception as exc:  # collected for the assertion below
                errors.append(exc)

    threads = [threading.Thread(target=writer, args=(s,)) for s in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    for s in ("a", "b"):
        assert st.read("d", s).count() == calls * 12


def _parquet_frame(spark, tmp_path, rows, name="frame"):
    """``rows`` of ``POINT_SCHEMA`` read back from a parquet file: a
    frame whose row count the parquet footer bounds."""
    path = str(tmp_path / f"{name}.parquet")
    series, ts, vs = zip(*rows)
    pq.write_table(
        pa.table(
            [pa.array(series), pa.array(ts, pa.int64()), pa.array(vs, pa.float64())],
            names=POINT_SCHEMA.names,
        ),
        path,
    )
    return spark.read.parquet(path)


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
    """``insert_rows``, ``insert_df`` of a local frame (the Spark
    committer) and ``insert_df`` of a parquet-backed frame (collected
    and written on the driver) put a point in the same
    ``series=``/``day=`` directory: all use Spark's partition-path
    escaping for the series name, and truncate the day toward zero like
    Spark's ``div``, never with Python's flooring ``//``."""
    rows_store = TimeSeriesStore(spark, str(tmp_path / "rows"))
    rows_store.insert_rows("d", series, [(t, 1.0)])
    df_store = TimeSeriesStore(spark, str(tmp_path / "df"))
    df_store.insert_df("d", spark.createDataFrame([(series, t, 1.0)], POINT_SCHEMA))
    bulk_store = TimeSeriesStore(spark, str(tmp_path / "bulk"))
    frame = _parquet_frame(spark, tmp_path, [(series, t, 1.0)])
    n, _ = jobs_in(spark, lambda: bulk_store.insert_df("d", frame))
    assert n == 1  # the driver path: one collect
    assert _point_dirs(rows_store) == _point_dirs(df_store) == _point_dirs(bulk_store)
    [path] = _point_dirs(rows_store)
    assert path.split(os.sep)[-1] == f"day={day}"
    assert _points(rows_store.read("d", series)) == [(series, t, 1.0)]
    # range reads bound ``day`` with the same expression
    assert _points(rows_store.read("d", series, t0=t, t1=t)) == [(series, t, 1.0)]
    assert _points(rows_store.read("d", series, t0=t + 1)) == []
    assert _points(rows_store.read("d", series, t1=t - 1)) == []


def test_bulk_insert_runs_one_job(spark, tmp_path, monkeypatch):
    """An ``insert``-policy frame the parquet footers prove small is
    collected once and written on the driver: 1 Spark job (a
    checkpoint, a count and a shuffled committer write before), one
    timestamp-sorted file per (series, day), and no committer or
    staging entry left behind. Past the cap the same frame takes the
    committer path, and both stores read back the frame's points: NaN,
    ±inf, int64-extreme and duplicate-ns points included. An empty
    frame writes nothing; a frame holding a null keeps the committer
    path."""
    inf = float("inf")
    rows = [
        (f"s{i % 3}", BASE + (i * 7919 % 40) * HOUR_NS - 2 * DAY_NS * (i % 2), float(i))
        for i in range(120)
    ]
    rows += [
        ("s0", BASE, float("nan")),
        ("s0", BASE, inf),
        ("s1", BASE + HOUR_NS, -inf),
        ("s1", BASE + HOUR_NS, 2.5),
        ("s2", -DAY_NS - 1, -0.0),
        ("s2", -(1 << 63), 1.0),
        ("s2", (1 << 63) - 1, 2.0),
    ]
    frame = _parquet_frame(spark, tmp_path, rows)

    def canon(pts):
        return sorted(pts, key=lambda r: (r[0], r[1], repr(r[2])))

    bulk = TimeSeriesStore(spark, str(tmp_path / "bulk"))
    n, inserted = jobs_in(spark, lambda: bulk.insert_df("d", frame))
    assert (n, inserted) == (1, len(rows))
    assert jobs_in(spark, lambda: bulk.insert_df("d", frame.where("false"))) == (1, 0)
    base = os.path.join(bulk.warehouse, "d", "points")
    leftovers = [
        name
        for _, dirs, files in os.walk(base)
        for name in dirs + files
        if name == "_temporary" or name[0] in "._"
    ]
    assert leftovers == []
    for d in _point_dirs(bulk):
        [f] = os.listdir(os.path.join(base, d))
        ts = pq.read_table(os.path.join(base, d, f))["timestamp"].to_pylist()
        assert ts == sorted(ts), d
    # a null value has no place in a driver-written file: the committer
    # writes that frame
    nulls = _parquet_frame(spark, tmp_path, [("s0", BASE, None)], name="nulls")
    null_store = TimeSeriesStore(spark, str(tmp_path / "with_null"))
    n, inserted = jobs_in(spark, lambda: null_store.insert_df("d", nulls))
    assert n > 1 and inserted == 1

    monkeypatch.setattr(tsstore, "BULK_MAX_ROWS", 0)
    spark_written = TimeSeriesStore(spark, str(tmp_path / "committer"))
    n, inserted = jobs_in(spark, lambda: spark_written.insert_df("d", frame))
    assert n > 1 and inserted == len(rows)
    assert _point_dirs(spark_written) == _point_dirs(bulk)
    want = canon(rows)
    for st in (bulk, spark_written):
        got = canon([tuple(r) for r in st.read("d").collect()])
        assert same_bits(got, want)


def test_driver_written_file_has_no_arrow_schema(spark, tmp_path, monkeypatch):
    """A file ``insert_rows`` writes carries no embedded Arrow schema
    (readers take the store's fixed columns by name), and its points
    read back bit for bit on the driver (``_read_points``) and through
    the Spark scan: NaN, ±inf, -0.0 and duplicate-ns points included."""
    rows = [(BASE + i * HOUR_NS, float(i) / 3) for i in range(20)]
    rows += [
        (BASE, float("nan")),
        (BASE + HOUR_NS, float("inf")),
        (BASE + 2 * HOUR_NS, -float("inf")),
        (-DAY_NS - 1, -0.0),
    ]
    st = TimeSeriesStore(spark, str(tmp_path / "wh"))
    st.insert_rows("d", "s", rows)
    base = os.path.join(st.warehouse, "d", "points")
    files = [
        os.path.join(base, d, f)
        for d in _point_dirs(st)
        for f in os.listdir(os.path.join(base, d))
    ]
    assert files
    for f in files:
        assert b"ARROW:schema" not in (pq.read_metadata(f).metadata or {}), f
    want = sorted((("s", t, v) for t, v in rows), key=lambda r: (r[1], repr(r[2])))

    def canon(pts):
        return sorted(pts, key=lambda r: (r[1], repr(r[2])))

    driver = tsstore._read_points("s", files, None, None).to_pylist()
    assert same_bits(canon((r["series"], r["timestamp"], r["value"]) for r in driver), want)
    monkeypatch.setattr(tsstore, "ONE_TASK_MAX_FILES", 0)
    df = st.read("d", "s")
    assert "FileScan" in _plan(df)
    assert same_bits(canon((r["series"], r["timestamp"], r["value"]) for r in df.collect()), want)


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


@pytest.mark.parametrize("step", ["swap_out", "swap_in"])
def test_insert_during_compact_keeps_every_point(spark, tmp_path, monkeypatch, step):
    """An ``insert``-policy INSERT that arrives while ``compact`` swaps
    the ``points`` directory. Written before the first rename, its file
    moved into ``.pre_compact`` and was deleted with it; with its
    directories made between the renames, the second rename failed and
    reads saw only the new point. The INSERT waits for the store's
    write lock instead: every acknowledged point reads back and no
    backup is left."""
    st = TimeSeriesStore(spark, str(tmp_path / "wh"))
    st.insert_rows("d", "s", [(BASE, 1.0), (BASE + DAY_NS, 2.0)])
    points = os.path.join(st.warehouse, "d", "points")
    hook = {
        "swap_out": (points, points + ".pre_compact"),
        "swap_in": (points + ".compacting", points),
    }[step]
    acked = []
    writer = threading.Thread(
        target=lambda: acked.append(st.insert_rows("d", "s", [(BASE + 2 * DAY_NS, 3.0)]))
    )
    rename = os.rename

    def racing_rename(src, dst):
        if (src, dst) == hook and writer.ident is None:
            writer.start()
            # the INSERT runs to the end here unless it waits for compact
            writer.join(timeout=2)
        rename(src, dst)

    monkeypatch.setattr(tsstore.os, "rename", racing_rename)
    st.compact("d")
    monkeypatch.undo()
    writer.join(timeout=120)
    assert not writer.is_alive()
    assert acked == [1]
    assert _points(st.read("d", "s")) == [
        ("s", BASE, 1.0),
        ("s", BASE + DAY_NS, 2.0),
        ("s", BASE + 2 * DAY_NS, 3.0),
    ]
    assert not os.path.exists(points + ".pre_compact")


@pytest.mark.parametrize("step", ["swap_out", "swap_in"])
@pytest.mark.parametrize("op", ["drop_series", "drop_db", "vacuum"])
def test_maintenance_during_compact_holds(spark, tmp_path, monkeypatch, op, step):
    """DROP SERIES, DROP DB and VACUUM arriving while ``compact`` swaps
    the ``points`` directory. At the first rename a drop or vacuum
    deleted from the store compact was replacing, and compact's copy
    brought the points back; at the second, ``points`` was missing and
    there was nothing to delete — an acknowledged DROP undone (a DROP
    DB deleted compact's trees and failed its rename instead). Each
    waits for the store's write lock: compact succeeds and the drop or
    vacuum holds after it."""
    st = TimeSeriesStore(spark, str(tmp_path / "wh"))
    st.insert_rows("d", "s", [(BASE, 1.0), (BASE + 3 * DAY_NS, 2.0)])
    st.insert_rows("d", "t", [(BASE, 5.0)])
    points = os.path.join(st.warehouse, "d", "points")
    hook = {
        "swap_out": (points, points + ".pre_compact"),
        "swap_in": (points + ".compacting", points),
    }[step]
    run, want = {
        "drop_series": (lambda: st.drop_series("d", "s"), [("t", BASE, 5.0)]),
        "drop_db": (lambda: st.drop_db("d"), []),
        "vacuum": (
            lambda: st.vacuum("d", "s", 2 * DAY_NS, BASE + 3 * DAY_NS),
            [("s", BASE + 3 * DAY_NS, 2.0), ("t", BASE, 5.0)],
        ),
    }[op]
    done = []
    worker = threading.Thread(target=lambda: done.append(run()))
    rename = os.rename

    def racing_rename(src, dst):
        if (src, dst) == hook and worker.ident is None:
            worker.start()
            # the drop runs to the end here unless it waits for compact
            worker.join(timeout=2)
        rename(src, dst)

    monkeypatch.setattr(tsstore.os, "rename", racing_rename)
    st.compact("d")
    monkeypatch.undo()
    worker.join(timeout=120)
    assert not worker.is_alive()
    assert done == [None]
    assert _points(st.read("d", "s")) + _points(st.read("d", "t")) == want
    assert not os.path.exists(points + ".pre_compact")
    assert not os.path.exists(points + ".compacting")


def test_read_during_compact_waits_for_it(spark, tmp_path, monkeypatch):
    """A read that arrives between ``compact``'s two renames, when
    ``points`` is missing and ``.pre_compact`` holds the old store. It
    took that state for a crashed compact and renamed the backup back,
    so the second rename failed and left ``.compacting`` behind. It
    waits for the store's write lock instead: compact succeeds, no
    backup or staging tree is left, and the read returns every point."""
    st = TimeSeriesStore(spark, str(tmp_path / "wh"))
    st.insert_rows("d", "s", [(BASE, 1.0), (BASE + DAY_NS, 2.0)])
    points = os.path.join(st.warehouse, "d", "points")
    seen = []
    # on another thread: compact holds the lock, which a reader waits for
    reader = threading.Thread(target=lambda: seen.append(_points(st.read("d", "s"))))
    rename = os.rename

    def racing_rename(src, dst):
        if (src, dst) == (points + ".compacting", points) and reader.ident is None:
            reader.start()
            # the read runs to the end here unless it waits for compact
            reader.join(timeout=2)
        rename(src, dst)

    monkeypatch.setattr(tsstore.os, "rename", racing_rename)
    st.compact("d")
    monkeypatch.undo()
    reader.join(timeout=120)
    assert not reader.is_alive()
    assert not os.path.exists(points + ".compacting")
    assert not os.path.exists(points + ".pre_compact")
    assert seen == [[("s", BASE, 1.0), ("s", BASE + DAY_NS, 2.0)]]


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
