"""Local replica of the driver's duckdb-oracle comparison: run a Spark
DataFrame and an oracle SQL on the same tables, sort columns by name,
compare row multisets (float-tolerant). Also the Spark job counter the
job-budget tests share, and the bit-for-bit row compare of the tests
that hold the driver's answers to Spark's."""

from __future__ import annotations

import math
import struct
from typing import Any


def same_bits(got, want) -> bool:
    """Equal rows, floats bit for bit (a NaN equal to a NaN)."""

    def cell(a, b) -> bool:
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or struct.pack("<d", a) == struct.pack("<d", b)
        return a == b

    return len(got) == len(want) and all(
        len(g) == len(w) and all(cell(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want)
    )


def spark_property(max_examples: int = 8):
    """Hypothesis settings for a property whose every example runs Spark
    jobs: few examples, no deadline, and the session ``spark`` fixture
    allowed in a test function."""
    from hypothesis import HealthCheck, settings

    return settings(
        max_examples=max_examples,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )


def jobs_in(spark, fn):
    """(number of Spark jobs ``fn()`` started, its result)."""
    from raft_c_spark import trace

    with trace.phase(spark) as p:
        out = fn()
    return p.jobs, out


def _norm_cell(x: Any) -> Any:
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        return round(x, 6)
    if hasattr(x, "timestamp"):  # datetime
        return x.isoformat()
    if isinstance(x, list):
        return tuple(_norm_cell(v) for v in x)
    return x


def _row_key(row: tuple) -> tuple:
    # type-stable total order: rows may contain NULLs and mixed types
    return tuple((repr(type(c)), repr(c)) for c in row)


def df_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        (tuple(_norm_cell(r[c]) for c in cols) for r in df.collect()),
        key=_row_key,
    )


def duck_rows(con, sql: str) -> list[tuple]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(
        (tuple(_norm_cell(row[i]) for i in order) for row in cur.fetchall()),
        key=_row_key,
    )


def assert_matches_oracle(df, con, sql: str, name: str = "query") -> None:
    a = df_rows(df)
    b = duck_rows(con, sql)
    assert len(a) == len(b), f"{name}: row count {len(a)} != oracle {len(b)}"
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={a[mism[0]]} oracle={b[mism[0]]}"
    )
