"""Driver-side parquet-footer row bounds for measured-cap gates.

Several operators gate a broadcast-vs-shuffle decision on a row count
("measured cap, never a Catalyst size guess"). The count is exact but
costs one Spark job per invocation — and for the common small-input
case the job only ever confirms "far under the cap". The parquet
footers of the frame's input files give an EXACT upper bound on its
row count (filters/projections/aggregates only remove rows) for free:
a handful of driver-side metadata reads, no job, no scan (guide §1.2:
don't compute things you throw away; §5: the driver should do almost
no data work).

The bound is only valid when the lineage cannot MULTIPLY rows, so
:func:`rows_upper_bound` inspects the analyzed logical plan and bails
out (returns ``None``) on joins, generators (explode), unions,
arbitrary Python maps (mapInPandas/mapInArrow may emit more rows than
they receive), or non-local/non-parquet sources. Callers fall back to
the exact ``count()`` — behaviour is byte-identical to before, minus
one job whenever the bound already proves the cap holds. At 100 TB the
input is thousands of files (the helper bails out past 256 footers)
and the exact count runs exactly as it always did.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from raft_c_spark.functions.planshape import plan_has_node
from raft_c_spark.sources.parquet import fingerprint, local_path

#: (path, fingerprint) -> footer num_rows; footer reads are
#: driver-side file I/O, memoized the same way dedup's row-group
#: probe is.
_FOOTER_ROWS_CACHE: dict[tuple[str, tuple], int] = {}

#: Logical-plan node names that can make output rows EXCEED the sum of
#: the scanned files' rows. Matched as line-leading node-name prefixes
#: against the analyzed plan (``planshape.plan_has_node`` — a bare
#: substring match false-positived on column names containing a node
#: token); a false positive merely falls back to the exact count.
_ROW_MULTIPLYING = (
    "Join",
    "Generate",
    "Union",
    "Expand",
    "CoGroup",
    "FlatMap",
    "MapInPandas",
    "MapInArrow",
    "Range",
    "LocalRelation",
    "OneRowRelation",
)


def rows_upper_bound(df: DataFrame) -> int | None:
    """Exact upper bound on ``df``'s row count from parquet footers,
    or ``None`` when no sound bound is derivable (row-multiplying
    lineage, non-file source, remote/many files). Never runs a job."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    if plan_has_node(plan, _ROW_MULTIPLYING):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 256:
        return None
    total = 0
    try:
        import pyarrow.parquet as pq

        for f in files:
            f = local_path(f)
            if f is None or not f.endswith(".parquet") or not os.path.isfile(f):
                return None
            key = (f, fingerprint(f))
            n = _FOOTER_ROWS_CACHE.get(key)
            if n is None:
                n = pq.ParquetFile(f).metadata.num_rows
                if len(_FOOTER_ROWS_CACHE) > 4096:
                    _FOOTER_ROWS_CACHE.clear()
                _FOOTER_ROWS_CACHE[key] = n
            total += n
    except Exception:
        return None
    return total


def rows_within_cap(df: DataFrame, cap_rows: int) -> bool:
    """Measured-cap gate: True iff ``df`` provably has ≤ ``cap_rows``
    rows. Tries the free footer bound first; only when the bound is
    unavailable or inconclusive does it pay the exact ``count()`` —
    so the decision is never LESS exact than counting (an inconclusive
    bound falls through to the same count as before)."""
    ub = rows_upper_bound(df)
    if ub is not None and ub <= cap_rows:
        return True
    return df.count() <= cap_rows
