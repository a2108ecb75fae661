"""Where answering a series on the driver stops beating Spark's file splits.

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
from raft_c_spark.sources.tsstore import DAY_NS  # noqa: E402
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--size", action="append", required=True, help="FILES:MIB")
    ap.add_argument("--days", type=int, default=8)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    spark = get_spark("one-task-crossover")
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
    spark.stop()


if __name__ == "__main__":
    main()
