"""Driver-side parquet-footer reads: row bounds for measured-cap
gates, and the scan-parallelism probe behind :func:`_widen`.

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

Both readers take the footers from one memo (:func:`_local_footers`),
keyed by (path, fingerprint), so a file rewritten in place is read
again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from raft_c_spark.functions.planshape import plan_has_node
from raft_c_spark.sources.parquet import fingerprint, local_path

#: (path, fingerprint) -> parquet footer metadata; footer reads are
#: driver-side file I/O, and every dedup/text op re-plans the same
#: corpus files
_FOOTERS: dict[tuple[str, tuple], object] = {}

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
    footers = _local_footers(df, 256)
    return None if footers is None else sum(m.num_rows for m in footers)


def _local_footers(df: DataFrame, max_files: int) -> list | None:
    """Footer metadata of ``df``'s input files, or ``None`` unless it
    reads 1 to ``max_files`` local parquet files whose footers read."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > max_files:
        return None
    out = []
    try:
        import pyarrow.parquet as pq

        for f in files:
            f = local_path(f)
            if f is None or not f.endswith(".parquet") or not os.path.isfile(f):
                return None
            key = (f, fingerprint(f))
            md = _FOOTERS.get(key)
            if md is None:
                md = pq.ParquetFile(f).metadata
                if len(_FOOTERS) > 4096:
                    _FOOTERS.clear()
                _FOOTERS[key] = md
            out.append(md)
    except Exception:
        return None
    return out


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


def _widen(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the input
    cannot actually scan in parallel, serializing any Arrow kernel
    into one task. Two ways that happens: too few SPLITS (a single
    small file), and — subtler — splits that collapse at read time
    because a parquet ROW GROUP is the indivisible read unit: an
    88 MB single-row-group file gets 88 byte-range splits of which
    87 are empty, so ``getNumPartitions()`` alone is fooled (a 500k-doc
    soak measured a perfectly linear winnow kernel running 41x
    super-linear — one task did all the work). For small local file
    sets the footer row-group counts give the true achievable
    parallelism. At scale inputs are many well-formed files and this
    whole check is a no-op."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p) if _effective_splits(df) < p else df


#: Logical-plan nodes that mean the frame is NOT a bare projection /
#: filter over a file scan. Downstream of any of these the frame's
#: parallelism is already set by an exchange / generator / local data
#: (widening would be a no-op at best), and — the real hazard —
#: touching ``df.rdd`` on such a frame under AQE FINALIZES the plan,
#: executing every upstream shuffle stage as real jobs at
#: plan-construction time (a build/execute profile caught
#: ds_pipeline_e2e paying 5 extra build jobs for exactly this probe).
#: Matched as line-leading node-name prefixes
#: (``planshape.plan_has_node``; bare substring matching
#: false-positived on column names); a false positive merely skips a
#: widen that post-exchange parallelism already provides.
_NON_SCAN_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Repartition",
    "Generate",
    "Union",
    "Expand",
    "Deduplicate",
    "GlobalLimit",
    "Sample",
    "CoGroup",
    "FlatMap",
    "MapInPandas",
    "MapInArrow",
    "Range",
    "LocalRelation",
    "OneRowRelation",
    "LogicalRDD",
)


def _effective_splits(df: DataFrame) -> int:
    """Achievable no-shuffle scan parallelism: min(splits, total row
    groups) when the input is a small set of local parquet files;
    plain split count otherwise (footer reads over thousands of
    files, or non-file sources, are not worth it — many files imply
    enough parallelism anyway). Footer row-group counts are memoized
    per (path, fingerprint). Non-scan-shaped frames short-circuit to
    "wide enough" WITHOUT the ``df.rdd`` partition probe — see
    ``_NON_SCAN_NODES``."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if plan_has_node(plan, _NON_SCAN_NODES):
            return 1 << 30
    except Exception:
        pass
    parts = df.rdd.getNumPartitions()
    # fewer than 64 files: more imply enough parallelism anyway
    footers = _local_footers(df, 63)
    if footers is None:
        return parts
    return min(parts, sum(m.num_row_groups for m in footers))
