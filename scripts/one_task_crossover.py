"""Where answering a series, or writing a bulk frame, on the driver
stops beating Spark.

For each ``--size FILES:MIB``, builds one series of FILES parquet
files (one row group each, as the store's writers leave them) holding
MIB MiB in all over up to ``--days`` day directories, then runs the
five SELECT kinds of the ``tsdb_wire`` benchmark over the whole series
twice per rep: once answered on the driver (``TimeSeriesStore.read``'s
one-task branch and the numpy twins of ``operators/tsdb``) and once
planned by Spark over its file splits, alternating which goes first.
Each result is consumed as the wire consumes it: a point result
through ``stream_results`` (the answer's table, or Spark's partitions),
any other result by ``collect``. Prints one JSON line per size: the
median wall seconds and CPU seconds of each kind under each plan. The
CPU is the Python driver's plus the JVM's, since the driver-side
answer runs in Python.

    SPARK_GRAFT_CPUS=2 SPARK_GRAFT_DRIVER_MEM=3g \\
        python scripts/one_task_crossover.py --work /tmp/xover \\
        --size 4:0.05 --size 16:0.5 --size 16:1 --size 32:2 --size 64:4 --size 128:8

The first size also warms the JVM,
so its numbers run high. ``ONE_TASK_MAX_FILES`` and
``ONE_TASK_MAX_BYTES`` in ``raft_c_spark/sources/tsstore.py`` were set
from this script's output.

Bulk-write mode: for each ``--bulk POINTS``, builds a parquet-backed
frame of POINTS points over ``--series`` series and ``--days`` days
(four files, so the footers bound its rows), then inserts it with
``TimeSeriesStore.insert_df`` into an empty store twice per rep: once
collected and written on the driver (``BULK_MAX_ROWS`` past every size
here) and once by the Spark committer (a cap of 0), alternating which
goes first. Prints one JSON line per size: the median wall and CPU
seconds and the Spark jobs of each write. ``BULK_MAX_ROWS`` was set
from this output.

    SPARK_GRAFT_CPUS=2 SPARK_GRAFT_DRIVER_MEM=3g \\
        python scripts/one_task_crossover.py --work /tmp/xover \\
        --bulk 10000 --bulk 100000 --bulk 1000000 --bulk 4000000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from raft_c_spark import get_spark, trace  # noqa: E402
from raft_c_spark.engine import Engine  # noqa: E402
from raft_c_spark.sources import tsstore  # noqa: E402
from raft_c_spark.sources.tsstore import DAY_NS, TimeSeriesStore  # noqa: E402
from raft_c_spark.streaming.results import stream_results  # noqa: E402

BASE_DAY = 19_700  # a day number in 2023
#: snappy parquet of random sorted int64 timestamps and random doubles
BYTES_PER_POINT = 17.6


def build(e: Engine, files: int, mib: float, days: int) -> tuple[int, int]:
    """Write the series ``s`` of database ``d``; its time bounds."""
    base = os.path.join(e.store._points_path("d"), e.store._series_part("s"))
    shutil.rmtree(base, ignore_errors=True)
    per_file = max(1, int(mib * 2**20 / BYTES_PER_POINT / files))
    rng = np.random.default_rng(files)
    per_day = -(-files // days)
    for k in range(files):
        day, slot = BASE_DAY + k % days, k // days
        span = DAY_NS // per_day
        t0 = day * DAY_NS + slot * span
        ts = t0 + np.sort(rng.choice(span, per_file, replace=False))
        vs = rng.normal(50.0, 20.0, per_file)
        table = pa.Table.from_arrays([pa.array(ts), pa.array(vs)], schema=tsstore._FILE_SCHEMA)
        d = os.path.join(base, f"day={day}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, f"part-{k:05d}.snappy.parquet"),
                       compression="snappy", row_group_size=per_file)
    return BASE_DAY * DAY_NS, (BASE_DAY + days) * DAY_NS - 1


def statements(t0: int, t1: int) -> dict[str, str]:
    mid = t0 + (t1 - t0) // 2
    return {
        "between": f"SELECT value FROM s BETWEEN {t0} AND {t1}",
        "sample": f"SELECT avg(value) FROM s BETWEEN {t0} AND {t1} SAMPLE BY 1h",
        "at": f"SELECT value FROM s AT {mid}",
        "multi_agg": f"SELECT min(value), max(value), avg(value) FROM s BETWEEN {t0} AND {t1}",
        "where_limit": f"SELECT value FROM s BETWEEN {t0} AND {t1} "
        "WHERE value > 60 AND value < 70 LIMIT 20",
    }


def run_once(e: Engine, stmt: str, one: bool) -> tuple[float, float]:
    """Wall and driver+JVM CPU seconds of one statement, answered on the
    driver (``one``: the gate's caps lifted past every size here) or
    planned over Spark's file splits (a file cap of 0)."""
    tsstore.ONE_TASK_MAX_FILES = 1 << 30 if one else 0
    tsstore.ONE_TASK_MAX_BYTES = 1 << 30
    with trace.phase(e.spark) as p:
        out = e.execute(stmt)
        if out.columns == ["timestamp", "value"]:
            for _ in stream_results(out):
                pass
        else:
            out.collect()
    return p.wall_s, p.cpu_pydriver_s + p.cpu_jvm_s


def bulk_frame(spark, work: str, points: int, series: int, days: int):
    """A parquet-backed frame of ``points`` random points over
    ``series`` series and ``days`` days, in four files."""
    src = os.path.join(work, f"bulk-{points}")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    rng = np.random.default_rng(points)
    names = np.array([f"s{i}" for i in range(series)])
    table = pa.table(
        {
            "series": names[rng.integers(series, size=points)],
            "timestamp": BASE_DAY * DAY_NS + rng.integers(days * DAY_NS, size=points),
            "value": rng.normal(50.0, 20.0, points),
        }
    )
    step = -(-points // 4)
    for k in range(4):
        pq.write_table(table.slice(k * step, step), os.path.join(src, f"part-{k}.parquet"))
    return spark.read.parquet(src)


def bulk_once(store: TimeSeriesStore, frame, driver: bool) -> tuple[float, float, int]:
    """Wall seconds, driver+JVM CPU seconds and Spark jobs of inserting
    ``frame`` into an empty store, on the driver or by the committer."""
    shutil.rmtree(store._points_path("b"), ignore_errors=True)
    tsstore.BULK_MAX_ROWS = 1 << 62 if driver else 0
    with trace.phase(store.spark) as p:
        store.insert_df("b", frame)
    return p.wall_s, p.cpu_pydriver_s + p.cpu_jvm_s, p.jobs


def bulk(spark, args) -> None:
    store = TimeSeriesStore(spark, os.path.join(args.work, "bulk-wh"))
    for points in args.bulk:
        frame = bulk_frame(spark, args.work, points, args.series, args.days)
        for driver in (True, False):  # warm both paths
            bulk_once(store, frame, driver)
        times: dict[bool, list] = {True: [], False: []}
        for r in range(args.reps):
            for driver in ((True, False) if r % 2 == 0 else (False, True)):
                times[driver].append(bulk_once(store, frame, driver))
        res: dict = {"points": points, "series": args.series, "days": args.days}
        for driver, name in ((True, "driver"), (False, "committer")):
            wall, cpu, jobs = zip(*times[driver])
            res[f"{name}.wall"] = round(statistics.median(wall), 3)
            res[f"{name}.cpu"] = round(statistics.median(cpu), 3)
            res[f"{name}.jobs"] = max(jobs)
        print(json.dumps(res), flush=True)


def splits(spark, args) -> None:
    e = Engine(spark, warehouse=os.path.join(args.work, "wh"))
    for ddl in ("CREATEDB d", "USE d", "CREATE s"):
        e.execute(ddl).collect()
    for size in args.size:
        files, mib = size.split(":")
        t0, t1 = build(e, int(files), float(mib), min(args.days, int(files)))
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(e.store._points_path("d"))
            for f in fs
        )
        stmts = statements(t0, t1)
        res: dict = {"files": int(files), "mib": round(on_disk / 2**20, 2)}
        for kind, stmt in stmts.items():
            for one in (True, False):  # warm both plans
                run_once(e, stmt, one)
            times: dict[bool, list] = {True: [], False: []}
            for r in range(args.reps):
                for one in ((True, False) if r % 2 == 0 else (False, True)):
                    times[one].append(run_once(e, stmt, one))
            for one, name in ((True, "one"), (False, "split")):
                res[f"{kind}.{name}.wall"] = round(statistics.median(w for w, _ in times[one]), 3)
                res[f"{kind}.{name}.cpu"] = round(statistics.median(c for _, c in times[one]), 3)
        print(json.dumps(res), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--size", action="append", default=[], help="FILES:MIB")
    ap.add_argument("--bulk", action="append", default=[], type=int, help="POINTS")
    ap.add_argument("--days", type=int, default=8)
    ap.add_argument("--series", type=int, default=15)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    if not args.size and not args.bulk:
        ap.error("give --size FILES:MIB or --bulk POINTS")
    spark = get_spark("one-task-crossover")
    if args.bulk:
        bulk(spark, args)
    if args.size:
        splits(spark, args)
    spark.stop()


if __name__ == "__main__":
    main()
