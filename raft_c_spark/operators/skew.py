"""Skew-handling aggregation: two-stage salted aggregates.

A groupBy on a hot key concentrates one reducer; AQE's skew handling
covers joins but a straight hash aggregate on a pathological key
distribution still funnels each key's partials to one task. Salting
splits every key into ``n_salts`` subkeys for the first (wide) stage,
then a cheap second stage over n_keys × n_salts rows merges partials.

Only algebraic aggregates decompose this way; the supported set maps
each to its (partial, merge) pair — avg decomposes as (sum, count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """``aggs``: out_name → (fn, col) with fn in
    sum/count/min/max/avg. Example::

        salted_agg(ev, ["event_type"],
                   {"n": ("count", "*"), "avg_v": ("avg", "value")})
    """
    salt = (F.rand(seed=7) * n_salts).cast("int").alias("_salt")
    stage1_cols: list[Column] = []
    stage2_cols: list[Column] = []
    for name, (fn, col) in aggs.items():
        if fn == "count":
            # SQL count('*') counts rows; count(col) skips NULLs —
            # the old F.count(lit(1)) ignored the column argument and
            # diverged from the unsalted groupBy this decomposes
            cnt = F.count(F.lit(1)) if col == "*" else F.count(col)
            stage1_cols.append(cnt.alias(f"_{name}_cnt"))
            stage2_cols.append(F.sum(f"_{name}_cnt").alias(name))
        elif fn == "sum":
            stage1_cols.append(F.sum(col).alias(f"_{name}_sum"))
            stage2_cols.append(F.sum(f"_{name}_sum").alias(name))
        elif fn == "min":
            stage1_cols.append(F.min(col).alias(f"_{name}_min"))
            stage2_cols.append(F.min(f"_{name}_min").alias(name))
        elif fn == "max":
            stage1_cols.append(F.max(col).alias(f"_{name}_max"))
            stage2_cols.append(F.max(f"_{name}_max").alias(name))
        elif fn == "avg":
            stage1_cols.append(F.sum(col).alias(f"_{name}_sum"))
            stage1_cols.append(F.count(col).alias(f"_{name}_cnt"))
            stage2_cols.append(
                (F.sum(f"_{name}_sum") / F.sum(f"_{name}_cnt")).alias(name)
            )
        else:
            raise ValueError(f"non-decomposable aggregate {fn!r}")
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(*stage1_cols)
    return partial.groupBy(*keys).agg(*stage2_cols)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe inner equi-join: split each left-side key into ``n_salts``
    deterministic subkeys (hash of the whole left row — not rand(),
    so retried tasks salt identically and the result is reproducible)
    and replicate the right side once per salt, turning one hot-key
    reducer into ``n_salts`` even tasks.

    This is the manual fallback for when AQE's skew-join splitting
    can't apply (e.g. the skewed side is the output of an aggregation
    in the same stage, or a non-shuffle join boundary). Replication
    multiplies the right side ×n_salts — use with a dimension-or-
    smaller right side; for fact×fact skew prefer AQE.

    Right-side multiplicity is preserved because each right row is
    replicated exactly once per salt and each left row carries exactly
    one salt."""
    keys = [key] if isinstance(key, str) else list(key)
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l = left.withColumn("_salt", lsalt.cast("int"))
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = l.join(r, keys + ["_salt"])
    return out.drop("_salt")
