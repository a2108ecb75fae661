"""``sources.parquet.read_parquet``: the schema memo every package
parquet read goes through.

A memo hit must plan exactly the scan an inferred read plans (same
schema, rows, plan and cache entry) without the inference job, and
any change that could change the inferred schema must re-infer: a
file rewrite (even same size, same second), an added part file, or a
parquet conf toggle.
"""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from raft_c_spark.functions.diskcache import data_cache_key
from raft_c_spark.sources.parquet import fingerprint, read_parquet
from raft_c_spark.sources.testdata import load_table
from tests.harness import jobs_in

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "raft_c_spark")


def _same_plan(a, b) -> bool:
    return a._jdf.queryExecution().analyzed().sameResult(
        b._jdf.queryExecution().analyzed()
    )


def _uses_cache(df) -> bool:
    return "InMemoryRelation" in df._jdf.queryExecution().withCachedData().toString()


def _rows(df):
    return sorted(df.collect(), key=repr)


def _write_same_size(path, col, ns):
    """One-row int64 parquet file whose only column is ``col``, with
    its mtime pinned to ``ns``."""
    pq.write_table(pa.table({col: pa.array([7], pa.int64())}), path)
    os.utime(path, ns=(ns, ns))


@pytest.fixture
def mixed(spark, tmp_path):
    """A directory of parquet with nested, decimal, binary,
    timestamp_ntz and partition columns."""
    p = str(tmp_path / "mixed")
    spark.sql(
        """SELECT id, CAST(id AS DECIMAL(12, 3)) AS d,
                  named_struct('a', id, 'b', array(id, NULL)) AS s,
                  CAST(CAST(id AS STRING) AS BINARY) AS b,
                  CAST(TIMESTAMP_NTZ'2024-01-01 00:00:00' AS TIMESTAMP_NTZ) AS t,
                  IF(id % 3 = 0, NULL, CAST(id AS STRING)) AS n,
                  id % 2 AS part
           FROM range(20)"""
    ).write.partitionBy("part").parquet(p)
    return p


@pytest.mark.parametrize("which", ["mixed", "events"])
def test_memo_hit_matches_inferred_read(spark, sf_dir, mixed, which):
    path = mixed if which == "mixed" else f"{sf_dir}/events.parquet"
    inferred = spark.read.parquet(path)
    read_parquet(spark, path)  # fill the memo
    n, hit = jobs_in(spark, lambda: read_parquet(spark, path))
    assert n == 0
    assert hit.schema == inferred.schema
    assert hit.schema.json() == inferred.schema.json()  # nullability too
    assert [f.nullable for f in hit.schema] == [f.nullable for f in inferred.schema]
    assert _same_plan(hit, inferred)
    assert _rows(hit) == _rows(inferred)

    # a .cache() taken from an inferred read serves the memo hit, and
    # the reverse
    inferred.cache()
    try:
        assert _uses_cache(read_parquet(spark, path))
    finally:
        inferred.unpersist(blocking=True)
    hit.cache()
    try:
        assert _uses_cache(spark.read.parquet(path))
    finally:
        hit.unpersist(blocking=True)


def test_warm_load_table_starts_no_job(spark, sf_dir, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(f"{sf_dir}/events.parquet", sf)
    n_cold, cold = jobs_in(spark, lambda: load_table(spark, sf, "events"))
    n_warm, warm = jobs_in(spark, lambda: load_table(spark, sf, "events"))
    assert (n_cold, n_warm) == (1, 0)
    assert warm.schema == cold.schema
    assert warm.count() == cold.count()


def test_same_size_same_second_rewrite_reinfers(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    sec = 1_700_000_000 * 10**9
    _write_same_size(p, "a", sec + 100)
    before = os.stat(p)
    assert read_parquet(spark, p).columns == ["a"]
    _write_same_size(p, "b", sec + 200)
    after = os.stat(p)
    # the rewrite is invisible at one-second resolution
    assert after.st_size == before.st_size
    assert int(after.st_mtime) == int(before.st_mtime)
    df = read_parquet(spark, p)
    assert df.columns == ["b"]
    assert df.collect()[0]["b"] == 7


def test_added_part_file_reinfers(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "part-0.parquet"))
    read_parquet(spark, str(d))
    assert jobs_in(spark, lambda: read_parquet(spark, str(d)))[0] == 0
    pq.write_table(pa.table({"a": [3]}), str(d / "part-1.parquet"))
    n, df = jobs_in(spark, lambda: read_parquet(spark, str(d)))
    assert n == 1
    assert df.count() == 3


def test_parquet_conf_toggle_reinfers(spark, tmp_path):
    p = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"xy"], pa.binary())}), p)
    key = "spark.sql.parquet.binaryAsString"
    assert read_parquet(spark, p).schema["b"].dataType.typeName() == "binary"
    spark.conf.set(key, "true")
    try:
        df = read_parquet(spark, p)
        assert df.schema["b"].dataType.typeName() == "string"
        assert df.collect()[0]["b"] == "xy"
    finally:
        spark.conf.unset(key)
    assert read_parquet(spark, p).schema["b"].dataType.typeName() == "binary"


def test_fingerprint_of_unstattable_and_empty_paths(tmp_path):
    """``None`` (plain inferred read, no memo entry) for a path that
    cannot be stat'ed; an empty directory has an empty fingerprint."""
    assert fingerprint(str(tmp_path / "missing.parquet")) is None
    assert fingerprint("s3://bucket/t.parquet") is None
    assert fingerprint("file://" + str(tmp_path)) == ()


def test_data_cache_key_sees_same_second_rewrite(tmp_path):
    p = str(tmp_path / "documents.parquet")
    sec = 1_700_000_000 * 10**9
    _write_same_size(p, "a", sec + 100)
    k1 = data_cache_key(str(tmp_path), "documents")
    size1 = os.stat(p).st_size
    _write_same_size(p, "b", sec + 200)
    assert os.stat(p).st_size == size1
    assert data_cache_key(str(tmp_path), "documents") != k1


_UNSCHEMAED_READ = re.compile(r"\.read\s*\.parquet\(")


def test_no_schema_inferring_read_outside_sources_parquet():
    """Every package read of a parquet schema the caller does not
    already know goes through ``read_parquet``; a bare
    ``.read.parquet(`` would bring the per-call inference job back."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            f = os.path.join(root, name)
            rel = os.path.relpath(f, PKG)
            if not name.endswith(".py") or rel == os.path.join("sources", "parquet.py"):
                continue
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
            for m in _UNSCHEMAED_READ.finditer(text):
                offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1}")
    assert offenders == []
