"""Mimic the driver: run every __spark_entry__ query against its DuckDB
oracle on the same parquet tables and compare row multisets.

Runs at sf0.001 by default (fast); set ORACLE_SF_DIR=/root/testdata/sf0.01
to replicate the driver's exact scale.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entrymod
from raft_c_spark.sources.testdata import TABLES
from tests.harness import assert_matches_oracle

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None


def test_registry_yields_order_without_duplicates():
    from raft_c_spark.plans import registry

    assert len(set(registry.ORDER)) == len(registry.ORDER)
    assert list(registry.all_queries()) == list(registry.ORDER)


def test_registry_plan_module_import_failure_is_fatal(monkeypatch):
    """A plan module that fails to import must fail every consumer,
    not silently drop its family from the registry."""
    from raft_c_spark.plans import registry

    monkeypatch.setitem(sys.modules, "raft_c_spark.plans.tpch4", None)
    with pytest.raises(ImportError):
        registry.all_queries()


def test_registry_rejects_query_missing_from_order(monkeypatch):
    from raft_c_spark.plans import registry, tpch4

    monkeypatch.setitem(tpch4.QUERIES, "tpch_unlisted_probe", lambda s, d: None)
    with pytest.raises(ValueError, match="tpch_unlisted_probe"):
        registry.all_queries()


def test_every_query_has_callable_and_name_parity():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    stray = set(oracles) - set(qs)
    assert not stray, f"oracle_sql keys without queries: {stray}"


def test_no_oracle_emits_hugeint(oracle_con):
    """The driver hashes *serialized* values, so a DuckDB HUGEINT
    column (e.g. un-cast ``SUM(integer)``) hash-mismatches Spark's
    BIGINT even when every value is identical — exactly the r7
    ``ds_dataset_card`` red. Any oracle producing a HUGEINT/UHUGEINT
    column is therefore a latent driver failure: fail it here."""
    bad = {}
    for name, sql in entrymod.oracle_sql().items():
        rel = oracle_con.sql(sql)
        huge = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if "HUGEINT" in str(t)
        ]
        if huge:
            bad[name] = huge
    assert not bad, f"oracles with HUGEINT output columns: {bad}"


def _decimal_leaves(dt, path):
    """Yield dotted paths of every DecimalType inside ``dt``,
    descending through struct/array/map so a nested decimal can't
    hide from the sweep."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        yield path
    elif isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _decimal_leaves(f.dataType, f"{path}.{f.name}")
    elif isinstance(dt, T.ArrayType):
        yield from _decimal_leaves(dt.elementType, f"{path}[]")
    elif isinstance(dt, T.MapType):
        yield from _decimal_leaves(dt.keyType, f"{path}<key>")
        yield from _decimal_leaves(dt.valueType, f"{path}<value>")


def assert_driver_safe_schema(df, name):
    """Spark-side mirror of ``test_no_oracle_emits_hugeint``: the
    driver hashes *serialized* values, and Python ``decimal.Decimal``
    canonical forms differ between the Spark and DuckDB clients
    (trailing-zero/exponent stringifications compare ``==`` equal but
    hash differently) — exactly the r8 ``ds_dsir_resample`` red. Any
    query whose Spark output schema contains a DecimalType is a
    latent driver failure even when every value matches: fail it
    here. Decimals stay legal *inside* a plan (exact folds, ordering
    keys); only the driver-facing projection must be decimal-free —
    cast to DOUBLE/BIGINT after the final round."""
    bad = list(_decimal_leaves(df.schema, name))
    assert not bad, (
        f"{name}: Spark output schema contains DecimalType at {bad}; "
        "cast to DOUBLE (or drop) in the final select — serialized "
        "Decimal forms are not engine-canonical and break the "
        "driver's value hash"
    )


def test_no_query_emits_decimal(spark):
    """Sweep EVERY registered query (not just the 50-query driver
    window — rotation means any query can enter the window later) for
    driver-hash-hostile Spark output types. Schema inspection only
    triggers analysis, not execution, so the whole-registry sweep is
    cheap for batch queries; streaming queries run their micro-batch
    eagerly at construction but at sf0.001 that is seconds."""
    qs = entrymod.queries()
    bad = {}
    for name, fn in qs.items():
        leaves = list(_decimal_leaves(fn(spark, SF_DIR).schema, name))
        if leaves:
            bad[name] = leaves
    assert not bad, f"queries with Decimal output columns: {bad}"


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, oracle_con, name):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    df = qs[name](spark, SF_DIR)
    assert_driver_safe_schema(df, name)
    if name not in oracles:
        assert df.count() >= 0  # rows-only check, like the driver
        return
    assert_matches_oracle(df, oracle_con, oracles[name], name)
