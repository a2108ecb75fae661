"""TimeSeriesStore — the engine's data plane.

Replaces the reference's chunk/WAL/commitlog/sparse-index machinery
(src/timeseries.c, src/partition.c, src/wal.c — per BASELINE.json the
storage layer is "not Sparkable") with series+day partitioned parquet:

- directory layout ``{warehouse}/{db}/points/series=<s>/day=<d>/*.parquet``
  ≙ the reference's per-series directories + time partitions
  (partition_t, src/partition.h:9-15);
- ``day`` (timestamp div 86400e9) gives partition *directory* pruning
  for range queries ≙ find_starting_partition (src/timeseries.c:882-891);
- parquet row-group min/max stats on the physical ``timestamp`` column
  ≙ the sparse index (one entry per 64-record batch,
  src/partition.c:47-60);
- sort-on-write within partitions ≙ the flush draining buckets in
  timestamp order (src/partition.c:78-97).

The store schema is fixed (``STORE_SCHEMA``) and never inferred.
Inference would cost a Spark job per read and would retype partition
values: series ``007`` would read back as the int 7 (and match series
``7``), series ``2024-01-01`` as a date.

Statement job budget: a single-series ``read`` lists only that
series' directory and runs no Spark job. When the files it will scan
are few and small (``ONE_TASK_MAX_FILES``, ``ONE_TASK_MAX_BYTES``),
the driver reads them with pyarrow and returns them as an ``Answer``,
which the engine answers every SELECT kind over with the driver twins
of ``operators/tsdb``: no Spark plan and no job between the points and
the reply (≙ the reference's executor reading its AST straight against
storage, one series from one partition in time order). An
``insert_rows`` batch under the ``insert`` policy runs no Spark job at
all — the driver already holds the points, so it writes one sorted
Arrow parquet file per touched (series, day) and publishes it by
rename (≙ the reference's local append, src/timeseries.c:621-682).
An ``insert``-policy ``insert_df`` frame whose parquet footers bound
it to at most ``BULK_MAX_ROWS`` rows is collected in one Spark job and
goes through the same driver writer (≙ the reference writing its
chunks into per-series partitions in-process, src/partition.c:62-125).
The ``ignore``/``update`` policies, larger or unbounded bulk frames and
``compact`` are Spark-committer writes. Every write, ``drop_series``,
``drop_db`` and ``vacuum`` hold the store's write lock, one at a time.

Scale notes: appends are partitioned writes (no global shuffle unless
requested); range reads prune by directory then row-group; a series is
spread over its days, so a scan over more files or bytes than one
task takes parallelizes across time — the reference's
16-partition-per-series bound (TS_MAX_PARTITIONS, src/timeseries.h:14)
has no analog here.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from raft_c_spark.functions.diskcache import publish_atomic
from raft_c_spark.functions.metabound import rows_upper_bound

DAY_NS = 86_400_000_000_000

POINT_SCHEMA = Ty.StructType(
    [
        Ty.StructField("series", Ty.StringType(), False),
        Ty.StructField("timestamp", Ty.LongType(), False),
        Ty.StructField("value", Ty.DoubleType(), False),
    ]
)

#: on-disk layout: the point columns plus the ``day`` partition column
STORE_SCHEMA = Ty.StructType(
    POINT_SCHEMA.fields + [Ty.StructField("day", Ty.LongType(), False)]
)


def _day(ns: str) -> Column:
    """The day partition of a timestamp expression. Writes and range
    reads derive it from this one expression: integer ``div`` (float
    division loses precision at epoch-ns magnitudes > 2^53), which
    truncates toward zero — Python's ``//`` floors, so a pre-1970 point
    would land in another directory."""
    return F.expr(f"{ns} div {DAY_NS}L")


def _day_of(ns: int) -> int:
    """``_day`` on the driver: truncates toward zero like ``div``."""
    return -(-ns // DAY_NS) if ns < 0 else ns // DAY_NS


#: the most data files, and bytes in all, that a series read takes on
#: the driver. Measured with scripts/one_task_crossover.py on a 4-vCPU
#: VM with two and with four task threads: each of the five SELECT
#: kinds answered on the driver beat the Spark plan over the file
#: splits in wall time at every size up to the largest measured, 128
#: files of 8.44 MiB (there 3.3-3.4x in the five kinds' sum).
ONE_TASK_MAX_FILES = 128
ONE_TASK_MAX_BYTES = 8 << 20

#: the most rows, by the parquet footers' bound, of an ``insert``-policy
#: ``insert_df`` frame that is collected and written on the driver
#: (``_write_on_driver``); larger frames, and frames with no bound, are
#: Spark-committer writes. Measured with scripts/one_task_crossover.py
#: --bulk on a 4-vCPU VM, 15 series over 10 days: the driver write beat
#: the committer's in wall time up to 1M points with two and with four
#: task threads (0.82 s against 1.38 s and 1.05 s), was even at 2M with
#: four (1.60 s against 1.58 s) and lost at 4M with both.
BULK_MAX_ROWS = 1_000_000

#: a point file's columns; ``series`` and ``day`` live in its path
_FILE_SCHEMA = to_arrow_schema(Ty.StructType(POINT_SCHEMA.fields[1:]))
_POINT_ARROW = to_arrow_schema(POINT_SCHEMA)


def _write_points(day_dir: str, points: pa.Table) -> None:
    """``points`` (``_FILE_SCHEMA``, sorted by timestamp) as one parquet
    file in a ``day=`` directory, written under a dot name (Spark's file
    index skips names starting with '.' or '_', so readers never list a
    half-written file) and published by rename. The Arrow schema is not
    embedded: readers take the store's fixed columns by name."""
    os.makedirs(day_dir, exist_ok=True)
    name = f"part-{uuid.uuid4()}.snappy.parquet"
    staging = os.path.join(day_dir, f".{name}.tmp")
    pq.write_table(points, staging, compression="snappy", store_schema=False)
    publish_atomic(staging, os.path.join(day_dir, name))


def _with_day(df: DataFrame) -> DataFrame:
    return df.withColumn("day", _day("timestamp"))


def local_frame(
    spark: SparkSession, data: list[tuple] | pa.Table, schema: Ty.StructType
) -> DataFrame:
    """Driver-side rows, or an Arrow table with ``schema``'s columns, as
    a local relation. ``createDataFrame`` from an Arrow table builds no
    RDD, so neither building nor collecting the frame runs a Spark job;
    ``createDataFrame(list)`` parallelizes, and its collect is a job."""
    if not isinstance(data, pa.Table):
        arrow = to_arrow_schema(schema)
        columns = list(zip(*data)) if data else [()] * len(arrow)
        data = pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow
        )
    return spark.createDataFrame(data, schema)


class Answer(ClassicDataFrame):
    """A result the driver already holds: an Arrow ``table``.

    ``columns``, ``schema``, ``count`` and ``collect`` read the table;
    any other use as a DataFrame builds ``local_frame`` over it once
    (its ``_jdf`` and the rest of a DataFrame's state are adopted on
    first access), so callers that plan over a result keep working
    while the wire and the REPL, which use only the table, never start
    a JVM call."""

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table):
        self.table = table
        self._answer_spark = spark

    def __getattr__(self, name: str):
        # reached only for what the instance lacks: until the first use
        # as a DataFrame that is its JVM-side state
        if name.startswith("__") or "_answer_spark" not in self.__dict__:
            raise AttributeError(name)
        if "_jdf" not in self.__dict__ and (name.startswith("_") or name == "is_cached"):
            frame = local_frame(self._answer_spark, self.table, self.schema)
            self.__dict__.update(frame.__dict__)
            return getattr(self, name)
        return super().__getattr__(name)

    @property
    def columns(self) -> list[str]:
        return self.table.column_names

    @property
    def schema(self) -> Ty.StructType:
        return from_arrow_schema(self.table.schema)

    def count(self) -> int:
        return self.table.num_rows

    def collect(self) -> list[Row]:
        make = Row(*self.table.column_names)
        return [make(*r) for r in zip(*(c.to_pylist() for c in self.table.columns))]


def _read_points(
    series: str, files: list[str], t0: int | None, t1: int | None
) -> pa.Table:
    """``files``' points with timestamp in ``[t0, t1]``, in
    ``POINT_SCHEMA``'s columns. Driver- and Spark-written files differ
    in field nullability and metadata, so their columns are joined
    chunk by chunk rather than by ``concat_tables``. A missing file
    raises: a read is every listed file or an error."""
    chunks: list[list[pa.Array]] = [[], []]
    for path in files:
        with pq.ParquetFile(path) as f:
            table = f.read(columns=["timestamp", "value"])
        for out, column in zip(chunks, table.columns):
            out += column.chunks
    ts, vs = (pa.chunked_array(c, f.type) for c, f in zip(chunks, _FILE_SCHEMA))
    lo = -(1 << 63) if t0 is None else t0
    hi = (1 << 63) - 1 if t1 is None else t1
    keep = pc.and_(pc.greater_equal(ts, lo), pc.less_equal(ts, hi))
    ts, vs = ts.filter(keep), vs.filter(keep)
    return pa.table(
        [pa.repeat(pa.scalar(series), len(ts)), ts, vs], schema=_POINT_ARROW
    )


class TimeSeriesStore:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self._series_parts: dict[str, str] = {}
        # Spark-committer writes share ``points/_temporary`` (an append
        # job's cleanup deletes a concurrent job's task output), and the
        # ``ignore`` path's anti-join must see the files it writes
        # against; one writer at a time. Re-entrant: writers read the
        # store through ``_source``, which takes it to restore a backup
        self._write_lock = threading.RLock()

    def _points_path(self, db: str) -> str:
        return os.path.join(self.warehouse, db, "points")

    def _series_part(self, series: str) -> str:
        """The ``series=<escaped>`` directory name, from the function
        Spark's partitioned writer uses (Hive escaping: ``cpu:load`` →
        ``series=cpu%3Aload``, ``""`` → ``__HIVE_DEFAULT_PARTITION__``),
        so the driver writer, the Spark writers and the readers agree."""
        part = self._series_parts.get(series)
        if part is None:
            catalog = self.spark._jvm.org.apache.spark.sql.catalyst.catalog
            part = catalog.ExternalCatalogUtils.getPartitionPathString("series", series)
            self._series_parts[series] = part
        return part

    def _touched_existing(
        self, existing: DataFrame, out: DataFrame
    ) -> DataFrame:
        """Existing rows restricted to the (series, day) partitions the
        batch ``out`` touches. Two layers, both O(touched partitions):

        - coarse ``isin`` on each partition column — a single InSet
          predicate per column, so it statically prunes partition
          directories without the per-pair OR-chain whose Catalyst
          tree grew linearly with touched-partition count (a batch
          touching thousands of partitions built a thousands-deep
          boolean tree);
        - a broadcast left-semi join against the exact touched-pair
          frame, which removes the isin cross-product excess (series
          A day 1 + series B day 2 must not drag in A/2, B/1).
        """
        touched = [
            (r["series"], r["day"])
            for r in out.select("series", "day").distinct().collect()
        ]
        series_set = sorted({s for s, _ in touched})
        day_set = sorted({d for _, d in touched})
        key_schema = Ty.StructType([STORE_SCHEMA["series"], STORE_SCHEMA["day"]])
        keys = local_frame(self.spark, touched, key_schema)
        return (
            existing.filter(
                F.col("series").isin(series_set) & F.col("day").isin(day_set)
            )
            .join(F.broadcast(keys), ["series", "day"], "left_semi")
        )

    # -- write -------------------------------------------------------------

    def insert_rows(
        self,
        db: str,
        series: str,
        rows: list[tuple[int, float]],
        duplication: str = "insert",
    ) -> int:
        if duplication == "ignore":
            # reference DP_IGNORE keeps the FIRST arrival; statement
            # order is real here (unlike a bulk frame), so pre-dedup
            # python-side before the order-free in-batch aggregate
            first: dict[int, tuple[int, float]] = {}
            for t, v in rows:
                first.setdefault(int(t), (t, v))
            rows = list(first.values())
        if not rows:
            return 0
        if duplication in ("ignore", "update"):
            df = local_frame(
                self.spark, [(series, int(t), float(v)) for t, v in rows], POINT_SCHEMA
            )
            return self.insert_df(db, df, duplication)
        ts = np.array([int(t) for t, _ in rows], np.int64)
        vs = np.array([float(v) for _, v in rows], np.float64)
        with self._write_lock:
            return self._write_on_driver(db, [series], np.zeros(len(rows), np.intp), ts, vs)

    def _write_on_driver(
        self, db: str, series: list[str], code: np.ndarray, ts: np.ndarray, vs: np.ndarray
    ) -> int:
        """Write the points ``(series[code[i]], ts[i], vs[i])`` as one
        timestamp-sorted parquet file per (series, day) they touch,
        through ``_write_points``; no Spark job. The caller holds the
        write lock: ``compact`` swaps the whole ``points`` directory, and
        a file published while it runs would land in the tree it
        deletes. The day truncates toward zero like ``_day``'s ``div``
        and the series directory is ``_series_part``'s, so this writer
        and Spark's pick the same directories. Sorted and cut with numpy
        arrays, not Arrow calls: an INSERT of a dozen points pays for
        each call."""
        if not len(ts):
            return 0
        # floor, then one up for a negative non-multiple: truncation
        # toward zero, like ``div`` (negating first overflows at int64 min)
        day = ts // DAY_NS + ((ts % DAY_NS != 0) & (ts < 0))
        order = np.lexsort((ts, day, code))  # stable: duplicate-ns keep their order
        ts, vs, day, code = ts[order], vs[order], day[order], code[order]
        # a (series, day) run starts at row 0 and wherever either changes
        cuts = (np.flatnonzero((code[1:] != code[:-1]) | (day[1:] != day[:-1])) + 1).tolist()
        base = self._points_path(db)
        for lo, hi in zip([0, *cuts], [*cuts, len(ts)]):
            day_dir = os.path.join(
                base, self._series_part(series[code[lo]]), f"day={day[lo]}"
            )
            _write_points(
                day_dir, pa.Table.from_arrays([ts[lo:hi], vs[lo:hi]], schema=_FILE_SCHEMA)
            )
        return len(ts)

    def insert_df(self, db: str, df: DataFrame, duplication: str = "insert") -> int:
        """Append canonical-schema points. ``duplication='ignore'``
        drops in-batch duplicate timestamps and timestamps already
        present in the store (DP_IGNORE, src/timeseries.h:43);
        'insert' lets identical-ns points coexist (DP_INSERT,
        src/timeseries.c:363-385); 'update' replaces existing values
        at duplicate timestamps, newest wins (DP_UPDATE — described in
        the reference's policy comment, src/timeseries.h:38-42, but
        never implemented there). Under 'insert', a frame whose parquet
        footers bound it to ``BULK_MAX_ROWS`` rows is collected in one
        Spark job and written by the driver writer ``insert_rows``
        uses; any other write is a Spark-committer job. Holds the
        store's write lock."""
        with self._write_lock:
            return self._insert_df(db, df, duplication)

    def _insert_df(self, db: str, df: DataFrame, duplication: str) -> int:
        out = df.select(
            F.col("series").cast("string"),
            F.col("timestamp").cast("long"),
            F.col("value").cast("double"),
        )
        if duplication == "update":
            return self._upsert(db, out)
        if duplication == "insert":
            bound = rows_upper_bound(out)
            if bound is not None and bound <= BULK_MAX_ROWS:
                # a frame the parquet footers prove small: one collect
                # and the driver writer, in place of a checkpoint, a
                # count and a shuffled committer write. A null has no
                # directory or file column to go to on the driver
                # writer, so a frame with one keeps the committer path
                points = out.toArrow()
                if not any(c.null_count for c in points.columns):
                    names = points["series"].combine_chunks().dictionary_encode()
                    return self._write_on_driver(
                        db,
                        names.dictionary.to_pylist(),
                        names.indices.to_numpy(),
                        points["timestamp"].to_numpy(),
                        points["value"].to_numpy(),
                    )
        if duplication == "ignore":
            # deterministic in-batch survivor: dropDuplicates keeps
            # whichever row partition order surfaces first, so repeated
            # runs of the same bulk ingest could persist different
            # values. A bulk frame has no meaningful arrival order, so
            # the canonical survivor is MIN(value) per (series,
            # timestamp); the engine INSERT path pre-dedups
            # statement-order first-arrival above (reference DP_IGNORE
            # semantics) before reaching this.
            out = (
                out.groupBy("series", "timestamp")
                .agg(F.min("value").alias("value"))
                .select("series", "timestamp", "value")
            )
            existing = self._read_raw(db)
            if existing is not None:
                # prune the anti-join's right side to the (series, day)
                # partitions the batch touches — partition-directory
                # pruning makes this O(touched partitions), not a full
                # store scan, no matter how large the store grows
                pruned = self._touched_existing(
                    existing,
                    out.select(
                        "series",
                        F.expr(f"timestamp div {DAY_NS}L").alias("day"),
                    ),
                )
                out = out.join(
                    pruned.select("series", "timestamp"),
                    ["series", "timestamp"],
                    "left_anti",
                )
        out = _with_day(out)
        # one materialization for the count AND the write: without it
        # the dedup/anti-join pipeline re-executed for each — up to 3x
        # the batch cost on the ignore path (the touched-partition
        # collect, the count, the write)
        out = out.localCheckpoint(eager=True)
        n = out.count()
        if n == 0:
            # an empty partitioned write would only leave a _SUCCESS
            # marker — skip it
            return 0
        (
            out.repartition("series", "day")
            .sortWithinPartitions("timestamp")
            .write.mode("append")
            .partitionBy("series", "day")
            .parquet(self._points_path(db))
        )
        return n

    def _upsert(self, db: str, out: DataFrame) -> int:
        """DP_UPDATE merge: rewrite ONLY the touched (series, day)
        partitions, replacing rows whose timestamp collides with the
        batch (newest wins; within a batch, last arrival wins).

        Scale shape: survivors are the touched partitions' existing
        rows anti-joined against the batch keys — work is O(touched
        partitions), not store size, exactly like the DP_IGNORE path;
        dynamic partition overwrite swaps only those directories. The
        same pattern a Delta/Iceberg MERGE compiles to, without the
        table format."""
        from pyspark.sql import Window

        # last-wins within the batch: monotonically_increasing_id
        # rises with row order inside each input partition, which for
        # a single ingest batch is arrival order
        w = Window.partitionBy("series", "timestamp").orderBy(F.desc("_seq"))
        out = (
            out.withColumn("_seq", F.monotonically_increasing_id())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_seq")
        )
        out = _with_day(out)
        n = out.count()
        if n == 0:
            return 0
        path = self._points_path(db)
        existing = self._read_raw(db)
        merged = out
        if existing is not None:
            survivors = self._touched_existing(existing, out).join(
                out.select("series", "timestamp"),
                ["series", "timestamp"],
                "left_anti",
            )
            # localCheckpoint truncates lineage so the write below is
            # not "overwriting a path being read" (bounded by touched-
            # partition size, the same bound the merge itself has)
            survivors = survivors.select(
                "series", "timestamp", "value", "day"
            ).localCheckpoint(eager=True)
            merged = survivors.unionByName(merged)
        (
            merged.repartition("series", "day")
            .sortWithinPartitions("timestamp")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("series", "day")
            .parquet(path)
        )
        return n

    # -- read --------------------------------------------------------------

    def _source(self, db: str, series: str | None = None) -> str | None:
        """The directory a read lists: the store, or with ``series``
        only that series' directory; None when there is none."""
        path = self._points_path(db)
        bak = path + ".pre_compact"
        if not os.path.exists(path) and os.path.exists(bak):
            # a compact() is between its two renames, or crashed there
            # (then the backup IS the store): wait for the lock, and
            # restore the backup only if the store is still missing
            with self._write_lock:
                if not os.path.exists(path) and os.path.exists(bak):
                    os.rename(bak, path)
        src = path if series is None else self._series_dir(db, series)
        return src if src is not None and os.path.exists(src) else None

    def _scan(self, db: str, src: str) -> DataFrame:
        """``src`` (a ``_source`` directory) in ``STORE_SCHEMA``."""
        return (
            self.spark.read.schema(STORE_SCHEMA)
            .option("basePath", self._points_path(db))
            .parquet(src)
        )

    def _read_raw(self, db: str, series: str | None = None) -> DataFrame | None:
        """The store, or one series of it, in ``STORE_SCHEMA``; None when
        there is no directory to read."""
        src = self._source(db, series)
        return None if src is None else self._scan(db, src)

    def read(
        self,
        db: str,
        series: str | None = None,
        retention_ns: int | None = None,
        now: int | None = None,
        t0: int | None = None,
        t1: int | None = None,
    ) -> DataFrame:
        """Canonical points; ``series`` lists only that series'
        directory (a series with none reads empty). ``t0``/``t1`` keep
        timestamps in ``[t0, t1]`` (either may be None); the same
        bounds on ``day`` prune day directories — ``div`` is monotonic,
        so every point in range sits in a day between the bounds' days
        — and a Spark scan's row-group stats prune the rest. Retention
        honored at read time (the reference parses-but-ignores it —
        SURVEY §1.3).

        A series read whose pruned files are at most
        ``ONE_TASK_MAX_FILES`` files of at most ``ONE_TASK_MAX_BYTES``
        is read on the driver (``_read_points``) and returned as an
        ``Answer`` holding the points, which the engine answers on the
        driver. Larger reads are Spark parquet scans with its file
        splits: past those sizes the splits' parallel tasks beat one
        driver thread."""
        src = self._source(db, series)
        if src is None:
            return Answer(self.spark, _POINT_ARROW.empty_table())
        if retention_ns is not None:
            import time as _time

            cutoff = (now if now is not None else _time.time_ns()) - retention_ns
            t0 = cutoff if t0 is None else max(t0, cutoff)
        files = None if series is None else self._one_task(src, t0, t1)
        if files is not None:
            return Answer(self.spark, _read_points(series, files, t0, t1))
        out = self._scan(db, src)
        if t0 is not None:
            out = out.filter(
                (F.col("timestamp") >= F.lit(t0)) & (F.col("day") >= _day(f"{t0}L"))
            )
        if t1 is not None:
            out = out.filter(
                (F.col("timestamp") <= F.lit(t1)) & (F.col("day") <= _day(f"{t1}L"))
            )
        return out.select("series", "timestamp", "value")

    def _one_task(
        self, series_dir: str, t0: int | None, t1: int | None
    ) -> list[str] | None:
        """The data files in ``series_dir``'s ``day=`` directories
        between ``t0``'s and ``t1``'s days when they are at most
        ``ONE_TASK_MAX_FILES`` files of at most ``ONE_TASK_MAX_BYTES``
        in all; else None. Names starting with '.' or '_' are skipped,
        as Spark's file index skips them."""
        budget = ONE_TASK_MAX_BYTES
        files: list[str] = []
        lo = None if t0 is None else _day_of(t0)
        hi = None if t1 is None else _day_of(t1)
        with os.scandir(series_dir) as days:
            for day in days:
                if not day.name.startswith("day="):
                    continue
                d = int(day.name[4:])
                if (lo is not None and d < lo) or (hi is not None and d > hi):
                    continue
                with os.scandir(day.path) as entries:
                    for f in entries:
                        if f.name[0] in "._":
                            continue
                        files.append(f.path)
                        budget -= f.stat().st_size
                        if len(files) > ONE_TASK_MAX_FILES or budget < 0:
                            return None
        return files

    # -- maintenance -------------------------------------------------------

    def _series_dir(self, db: str, series: str) -> str | None:
        """The series' directory, or None when it has none."""
        path = os.path.join(self._points_path(db), self._series_part(series))
        return path if os.path.isdir(path) else None

    # ``compact`` swaps the whole ``points`` directory: a drop or vacuum
    # run between its copy and its renames would land in the tree it
    # replaces (and come back), or find ``points`` missing (and delete
    # nothing), so each takes the write lock

    def drop_series(self, db: str, series: str) -> None:
        with self._write_lock:
            path = self._series_dir(db, series)
            if path is not None:
                shutil.rmtree(path)

    def drop_db(self, db: str) -> None:
        path = os.path.join(self.warehouse, db)
        with self._write_lock:
            if os.path.exists(path):
                shutil.rmtree(path)

    def compact(self, db: str) -> None:
        """Rewrite the store with one sorted file set per (series, day)
        partition — the small-file maintenance pass every append-heavy
        parquet layout needs (each INSERT appends a file per touched
        partition; reads stay correct but open more files than
        necessary). ≙ the reference's chunk→partition flush compaction
        (src/partition.c:62-125), run out-of-band here."""
        with self._write_lock:
            self._compact(db)

    def _compact(self, db: str) -> None:
        raw = self._read_raw(db)
        if raw is None:
            return
        path = self._points_path(db)
        tmp = path + ".compacting"
        (
            raw.repartition("series", "day")
            .sortWithinPartitions("timestamp")
            .write.mode("overwrite")
            .partitionBy("series", "day")
            .parquet(tmp)
        )
        # two renames instead of rmtree-then-rename: a crash between
        # the rmtree and the rename would leave NO points directory —
        # every read empty, silent total loss from the reader's
        # perspective. With rename→rename the store
        # is only ever the old data or the new data; a crash between
        # the renames leaves the old store recoverable at .pre_compact
        # (restored automatically by the next compact call).
        bak = path + ".pre_compact"
        if os.path.exists(bak):
            # stale backup from a compact that crashed after BOTH
            # renames but before cleanup (the live path exists and is
            # newer — _source handles the between-renames case)
            shutil.rmtree(bak)
        os.rename(path, bak)
        os.rename(tmp, path)
        shutil.rmtree(bak)

    def vacuum(self, db: str, series: str, retention_ns: int, now: int) -> None:
        """Physically drop whole day-partitions older than retention —
        O(directories), no data rewrite (day granularity; read-time
        filtering handles the partial boundary day)."""
        cutoff_day = (now - retention_ns) // DAY_NS
        with self._write_lock:
            base = self._series_dir(db, series)
            if base is None:
                return
            for d in os.listdir(base):
                if d.startswith("day=") and int(d.split("=", 1)[1]) < cutoff_day:
                    shutil.rmtree(os.path.join(base, d))
