"""``functions.diskcache``: the one owner of derived on-disk state.

Each fault test injects one failure a hand-rolled exists → write →
publish sequence mishandles, and checks that ``materialize`` still
serves the correct entry: two builders of one key
at once, a crashed writer's staging directory, and a truncated cached
parquet file. The ``cached_parquet`` tests pin that its builder runs
only on a miss. The guard test keeps cache and staging paths inside
``diskcache``.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from raft_c_spark.functions import diskcache
from tests.harness import assert_matches_oracle, jobs_in

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "raft_c_spark")

ROWS = [{"id": i, "v": f"row{i}"} for i in range(50)]
SCHEMA = pa.schema([("id", pa.int64()), ("v", pa.string())])


@pytest.fixture
def cache_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("RAFT_C_SPARK_CACHE_DIR", str(tmp_path))
    return tmp_path


def _write_dir(staging: str) -> None:
    """A complete entry: a directory holding one parquet file."""
    os.makedirs(staging)
    pq.write_table(
        pa.Table.from_pylist(ROWS, schema=SCHEMA),
        os.path.join(staging, "part-0.parquet"),
    )


def _rows(path: str) -> list[dict]:
    return sorted(pq.read_table(path).to_pylist(), key=lambda r: r["id"])


def _staging_left(root) -> list[str]:
    return [n for n in os.listdir(root) if ".tmp." in n]


def _cut_footer(path: str) -> None:
    size = os.path.getsize(path)
    with open(path, "r+b") as f:
        f.truncate(size // 2)


def test_two_threads_build_one_key(cache_dir):
    """Both builders are inside ``write`` at once; each gets its own
    staging path, and both return the one published entry."""
    barrier = threading.Barrier(2, timeout=60)
    stagings = []

    def write(staging):
        stagings.append(staging)
        barrier.wait()
        _write_dir(staging)

    with ThreadPoolExecutor(2) as ex:
        paths = list(ex.map(lambda _: diskcache.materialize("two", write), range(2)))
    assert paths == [str(cache_dir / "two")] * 2
    assert len(set(stagings)) == 2
    assert _rows(paths[0]) == ROWS
    assert _staging_left(cache_dir) == []


def test_crashed_writer_staging_is_swept(cache_dir):
    """A dead writer's half-written ``<final>.tmp.<pid>`` neither
    blocks the build nor outlives it."""
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    dead = cache_dir / f"crash.tmp.{child.pid}"
    dead.mkdir()
    pq.write_table(pa.Table.from_pylist(ROWS, schema=SCHEMA), dead / "part-0.parquet")
    _cut_footer(str(dead / "part-0.parquet"))

    path = diskcache.materialize("crash", _write_dir)
    assert _rows(path) == ROWS
    assert _staging_left(cache_dir) == []


def test_failed_write_leaves_no_staging(cache_dir):
    def write(staging):
        _write_dir(staging)
        raise RuntimeError("writer failed")

    with pytest.raises(RuntimeError, match="writer failed"):
        diskcache.materialize("fails", write)
    assert os.listdir(cache_dir) == []


def test_each_consult_reports_its_key_once(cache_dir):
    keys = []
    diskcache.set_key_observer(keys.append)
    def no_write(staging):
        raise AssertionError("a hit must not build")

    try:
        assert not (cache_dir / "obs").exists()
        assert diskcache.materialize("obs", _write_dir) == str(cache_dir / "obs")
        assert diskcache.materialize("obs", no_write) == str(cache_dir / "obs")
    finally:
        diskcache.set_key_observer(None)
    assert keys == ["obs"] * 2


def test_cached_parquet_hit_never_builds(spark, cache_dir):
    """A hit reads the entry back without calling ``build`` and without
    a Spark job, so a builder's eager jobs never run on a warm call."""
    df = spark.range(30).selectExpr("id", "id * 2 AS v")
    first = sorted(diskcache.cached_parquet(spark, "hit", lambda: df).collect())

    def build():
        raise AssertionError("build called on a hit")

    n, out = jobs_in(spark, lambda: diskcache.cached_parquet(spark, "hit", build))
    assert n == 0
    assert sorted(out.collect()) == first


def test_cached_parquet_without_key_is_the_build(spark, cache_dir):
    df = spark.range(3)
    assert diskcache.cached_parquet(spark, None, lambda: df) is df
    assert os.listdir(cache_dir) == []


def test_cached_parquet_miss_builds_once(spark, cache_dir):
    """A miss calls ``build`` once, publishes the entry and reports its
    key to the observer once."""
    calls, keys = [], []

    def build():
        calls.append(1)
        return spark.range(40).selectExpr("id", "id % 7 AS v")

    diskcache.set_key_observer(keys.append)
    try:
        out = diskcache.cached_parquet(spark, "miss", build)
    finally:
        diskcache.set_key_observer(None)
    assert calls == [1]
    assert keys == ["miss"]
    assert os.listdir(cache_dir) == ["miss"]
    assert sorted(r["id"] for r in out.collect()) == list(range(40))


def test_truncated_cached_parquet_is_rebuilt(spark, cache_dir):
    df = spark.range(200).selectExpr("id", "id * 3 AS v").repartition(4)
    first = sorted(diskcache.cached_parquet(spark, "trunc", lambda: df).collect())
    entry = cache_dir / "trunc"
    parts = sorted(p for p in os.listdir(entry) if p.endswith(".parquet"))
    assert parts
    _cut_footer(str(entry / parts[0]))

    again = sorted(diskcache.cached_parquet(spark, "trunc", lambda: df).collect())
    assert again == first
    assert len(first) == 200
    assert _staging_left(cache_dir) == []


def test_truncated_ground_truth_parquet_is_rebuilt(cache_dir):
    from raft_c_spark.plans.multimodal import _ground_truth_parquet

    calls = []

    def rows():
        calls.append(1)
        return ROWS

    fields = [("id", pa.int64()), ("v", pa.string())]
    path = _ground_truth_parquet("gt.parquet", rows, fields)
    assert _ground_truth_parquet("gt.parquet", rows, fields) == path
    assert len(calls) == 1  # a hit does not recompute the rows
    _cut_footer(path)

    assert _ground_truth_parquet("gt.parquet", rows, fields) == path
    assert _rows(path) == ROWS
    assert len(calls) == 2
    assert _staging_left(cache_dir) == []


def test_removed_lang_warehouse_is_rebuilt(spark, sf_dir, duck, cache_dir):
    """A query-language warehouse removed after it was built is built
    again: nothing in the process trusts the directory it built
    before."""
    from raft_c_spark.plans import language

    language.q_language_sample_by(spark, sf_dir).collect()
    built = [n for n in os.listdir(cache_dir) if n.startswith("lang_wh")]
    assert len(built) == 1
    shutil.rmtree(cache_dir / built[0])

    assert_matches_oracle(
        language.q_language_where_limit(spark, sf_dir),
        duck,
        language.ORACLES["lang_where_limit"],
        "lang_where_limit",
    )


_CACHE_PATHS = re.compile(r"cache_path\(|cache_root\(|\.tmp\.\{")


def test_no_cache_or_staging_path_outside_diskcache():
    """Every cache entry is probed and built by ``materialize``; a
    module that names a cache path or a
    ``.tmp.{...}`` staging path would bring back the exists-only
    validity check and the shared-staging race."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            f = os.path.join(root, name)
            rel = os.path.relpath(f, PKG)
            if not name.endswith(".py") or rel == os.path.join("functions", "diskcache.py"):
                continue
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
            for m in _CACHE_PATHS.finditer(text):
                offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1}")
    assert offenders == []
