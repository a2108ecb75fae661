"""Engine — the query-language entry point.

``Engine.execute(query)`` is the Spark-first analog of the reference's
request path (stmt_parse → stmt_execute, src/statement_parse.c:1156-1197
→ src/statement_execute.c:476-513): parse to the dataclass AST,
constant-fold time expressions to ns literals, then answer it.

Every statement returns a DataFrame (DDL returns a one-row status
frame) so a REPL can treat results uniformly, like the reference's
wire protocol does with string vs array responses (src/encoding.c).
Status and meta replies, and SELECTs over a series the store reads on
the driver, are ``tsstore.Answer``s: the answer is computed on the
driver (the ``operators/tsdb`` driver twins) and held as an Arrow
table, and only a caller that uses it as a DataFrame builds one — the
reference's executor likewise interprets its AST directly against the
storage API (SURVEY §3.1). A SELECT over a larger read is a Catalyst
plan over the store's parquet scan.
"""

from __future__ import annotations

import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raft_c_spark.catalog import Catalog, CatalogError
from raft_c_spark.frontend import ast
from raft_c_spark.frontend.eval import eval_timeunit
from raft_c_spark.frontend.parser import parse
from raft_c_spark.operators import tsdb
from raft_c_spark.sources.tsstore import Answer, TimeSeriesStore


class ExecutionError(RuntimeError):
    pass


class Engine:
    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse or tempfile.mkdtemp(prefix="raft_c_spark_wh_")
        self.catalog = Catalog(self.warehouse)
        self.store = TimeSeriesStore(spark, self.warehouse)
        self.current_db: str | None = None

    # -- public API --------------------------------------------------------

    def execute(self, query: str, now: int | None = None) -> DataFrame:
        """Parse and run one statement; ``now`` pins now() for
        deterministic tests — including the parse-time stamps of the
        VALUE / '*' insert forms (passed into the parser)."""
        return self.execute_stmt(parse(query, now=now), now=now)

    def execute_stmt(self, stmt: ast.Statement, now: int | None = None) -> DataFrame:
        if isinstance(stmt, ast.CreateDb):
            self.catalog.create_db(stmt.db_name)
            if self.current_db is None:
                self.current_db = stmt.db_name
            return self._status(f"database {stmt.db_name} created")
        if isinstance(stmt, ast.Use):
            if not self.catalog.has_db(stmt.db_name):
                raise ExecutionError(f"database {stmt.db_name!r} does not exist")
            self.current_db = stmt.db_name
            return self._status(f"using {stmt.db_name}")
        if isinstance(stmt, ast.Create):
            return self._exec_create(stmt, now)
        if isinstance(stmt, ast.Delete):
            return self._exec_delete(stmt)
        if isinstance(stmt, ast.Insert):
            return self._exec_insert(stmt, now)
        if isinstance(stmt, ast.Select):
            return self._exec_select(stmt, now)
        if isinstance(stmt, ast.Meta):
            return self._exec_meta(stmt)
        raise ExecutionError(f"unsupported statement {stmt!r}")

    # -- helpers -----------------------------------------------------------

    def _text(self, column: str, values: list[str]) -> Answer:
        return Answer(self.spark, pa.table({column: pa.array(values, pa.string())}))

    def _status(self, msg: str) -> Answer:
        return self._text("status", [msg])

    def _db(self) -> str:
        if self.current_db is None:
            raise ExecutionError("no active database (USE <db> first)")
        return self.current_db

    # -- DDL ---------------------------------------------------------------

    def _exec_create(self, stmt: ast.Create, now: int | None) -> DataFrame:
        db = self._db()
        retention = (
            eval_timeunit(stmt.retention, now) if stmt.retention is not None else None
        )
        created = self.catalog.create_series(
            db, stmt.ts_name, retention_ns=retention, duplication=stmt.duplication
        )
        if created:
            return self._status(f"series {stmt.ts_name} created")
        return self._status(
            f"series {stmt.ts_name} already exists"
            + (
                " (options updated)"
                if retention is not None or stmt.duplication is not None
                else ""
            )
        )

    def _exec_delete(self, stmt: ast.Delete) -> DataFrame:
        """DELETE ts [FROM db] | DELETE db — executor-stubbed in the
        reference (src/statement_execute.c:461-465); implemented fully.
        The single-name form drops a series of the active db if one
        matches, else a database of that name."""
        if not stmt.single:
            self.catalog.drop_series(stmt.db_name, stmt.name)
            self.store.drop_series(stmt.db_name, stmt.name)
            return self._status(f"series {stmt.name} deleted from {stmt.db_name}")
        if self.current_db and self.catalog.has_series(self.current_db, stmt.name):
            self.catalog.drop_series(self.current_db, stmt.name)
            self.store.drop_series(self.current_db, stmt.name)
            return self._status(f"series {stmt.name} deleted")
        if self.catalog.has_db(stmt.name):
            self.catalog.drop_db(stmt.name)
            self.store.drop_db(stmt.name)
            if self.current_db == stmt.name:
                self.current_db = None
            return self._status(f"database {stmt.name} deleted")
        raise CatalogError(f"nothing named {stmt.name!r} to delete")

    def _exec_meta(self, stmt: ast.Meta) -> DataFrame:
        """.databases / .timeseries — executor-stubbed in the reference
        (src/statement_execute.c:467-471); implemented fully."""
        if stmt.command == "databases":
            return self._text("database", self.catalog.databases())
        return self._text("series", sorted(self.catalog.series(self._db())))

    # -- DML ---------------------------------------------------------------

    def _exec_insert(self, stmt: ast.Insert, now: int | None) -> DataFrame:
        db = self._db()
        if not self.catalog.has_series(db, stmt.ts_name):
            # the reference auto-creates on insert? No — ts_get fails;
            # we require CREATE first but auto-create mirrors common
            # TSDB ergonomics. Stay strict: explicit CREATE.
            raise ExecutionError(
                f"series {stmt.ts_name!r} does not exist (CREATE it first)"
            )
        opts = self.catalog.series_opts(db, stmt.ts_name)
        rows = [
            (eval_timeunit(r.timeunit, now), r.value) for r in stmt.records
        ]
        n = self.store.insert_rows(
            db, stmt.ts_name, rows, duplication=opts.get("duplication") or "insert"
        )
        return self._status(f"{n} records inserted into {stmt.ts_name}")

    # -- SELECT ------------------------------------------------------------

    def _exec_select(self, stmt: ast.Select, now: int | None) -> DataFrame:
        db = self._db()
        opts = self.catalog.series_opts(db, stmt.ts_name)

        # t0/t1: the statement's range; lo/hi: the bounds the store
        # scan applies
        t0 = t1 = lo = hi = None
        interval = (
            eval_timeunit(stmt.sampling, now) if stmt.sampling is not None else None
        )
        if isinstance(stmt.selector, ast.Interval):
            t0 = eval_timeunit(stmt.selector.start, now)
            t1 = eval_timeunit(stmt.selector.end, now)
            if t0 > t1:
                raise tsdb.InvalidRangeError(f"invalid range: {t0} > {t1}")
            if interval is None:
                lo, hi = t0, t1
            elif interval > 0:
                # sample_by owns the range: ts_avg_sample normalizes t0
                # *down* to an interval multiple and scans [t0_norm, t1]
                # (src/timeseries.c:1273-1276) — a pre-filter at t0
                # would wrongly drop points in [t0_norm, t0). The scan
                # takes that same range; a non-positive interval is
                # left for sample_by to reject.
                lo, hi = t0 - t0 % interval, t1
        elif stmt.selector is not None:
            # S_SINGLE point lookup (AT <time>): exact-ns equality,
            # may return several rows (duplicate-ns points are legal)
            t_at = eval_timeunit(stmt.selector, now)
            lo = hi = t_at
        points = self.store.read(
            db,
            series=stmt.ts_name,
            retention_ns=opts.get("retention_ns"),
            now=now,
            t0=lo,
            t1=hi,
        )
        if isinstance(points, Answer):
            # the store read on the driver: every operator below takes
            # its numpy twin over the table
            points = points.table

        if stmt.where:
            points = tsdb.where_chain(
                points, [(w.key, w.op, w.value) for w in stmt.where]
            )

        if len(stmt.functions) > 1:
            # multi-aggregate select (grammar doc
            # src/statement_parse.h:97): one column per aggregate,
            # order preserved; the parser admits min/max/avg only
            fns = tuple(fn.value for fn in stmt.functions)
            if stmt.sampling is not None:
                # extension: bucketed multi-aggregate (the reference's
                # sampler is avg-only, src/timeseries.c:1265-1308) —
                # still a single partial+final hash aggregate
                if stmt.fill is not None:
                    raise ExecutionError(
                        "FILL supports single-aggregate sampling only"
                    )
                out = _project(
                    tsdb.sample_by(
                        points, interval, t0=t0, t1=t1,
                        group_by_series=False, fns=fns,
                    ),
                    {"bucket_ts": "timestamp"} | {f"{f}_value": f"{f}_value" for f in fns},
                )
            else:
                # one row, none on empty input
                out = tsdb.ts_aggs(points, fns)
        elif stmt.sampling is not None:
            # honor the requested aggregate when the sampler supports
            # it (extension — the reference always computes avg in
            # sampling mode, whatever function was written); latest/
            # earliest keep the reference's avg fallback
            fn = stmt.function.value if stmt.function else "avg"
            fn = fn if fn in tsdb._SAMPLE_AGGS else "avg"
            if stmt.fill is not None:
                # FILL(prev|null|<n>) grammar extension — avg-only
                # (sample_by_fill fills the avg series); output gains
                # a `filled` marker column
                if fn != "avg":
                    raise ExecutionError(
                        "FILL supports avg sampling only"
                    )
                out = _project(
                    tsdb.sample_by_fill(
                        points, interval, fill=stmt.fill, t0=t0, t1=t1
                    ),
                    {"bucket_ts": "timestamp", "avg_value": "value", "filled": "filled"},
                )
            else:
                out = _project(
                    tsdb.sample_by(
                        points, interval, t0=t0, t1=t1,
                        group_by_series=False, fns=(fn,),
                    ),
                    {"bucket_ts": "timestamp", f"{fn}_value": "value"},
                )
        elif stmt.function is ast.Fn.MIN:
            out = tsdb.ts_min(points, group_by_series=False)
        elif stmt.function is ast.Fn.MAX:
            out = tsdb.ts_max(points, group_by_series=False)
        elif stmt.function is ast.Fn.AVG:
            # avg is executor-TODO in the reference
            # (src/statement_execute.c:235-238); we label the result
            # with the range end (or 0 for full scans)
            out = _labelled(
                tsdb.ts_avg(points, group_by_series=False),
                t1 if t1 is not None else 0,
            )
        elif stmt.function is ast.Fn.LATEST:
            out = tsdb.ts_latest(points, group_by_series=False)
        else:
            # the value tie-break keeps duplicate-ns output order
            # stable across partitionings (tsdb.ts_scan)
            out = tsdb.ts_scan(points)
            if stmt.function is ast.Fn.EARLIEST:
                out = _limit(out, stmt.fn_arg or 1)
            out = _project(out, {"timestamp": "timestamp", "value": "value"})

        if stmt.limit is not None:
            out = _limit(out, stmt.limit)
        return Answer(self.spark, out) if isinstance(out, pa.Table) else out


# -- result shaping, over a DataFrame or a driver-side table ---------------


def _project(out, columns: dict[str, str]):
    """``out``'s columns ``columns`` keys, renamed to its values."""
    if isinstance(out, pa.Table):
        return out.select(list(columns)).rename_columns(list(columns.values()))
    return out.select(*[F.col(c).alias(name) for c, name in columns.items()])


def _limit(out, n: int):
    return out.slice(0, n) if isinstance(out, pa.Table) else out.limit(n)


def _labelled(avg, label: int):
    """The one-row average as a (timestamp=label, value) record."""
    if isinstance(avg, pa.Table):
        return pa.table(
            {
                "timestamp": pa.array([label] * avg.num_rows, pa.int64()),
                "value": avg["avg_value"],
            }
        )
    return avg.select(
        F.lit(label).cast("long").alias("timestamp"),
        F.col("avg_value").alias("value"),
    )
