"""Repo-local atomic cache for derived on-disk state (minhash
signatures, shingle codes, simhash vocabularies, vector indexes,
query-language warehouses, expected multimodal decode stats).

This is the local stand-in for the 100 TB deployment's stored-column /
materialized-index layout: expensive derived state is computed once
per corpus and read back by every subsequent run. The module is the
one owner of that state: :func:`materialize` is its one entry point
(it probes first and builds only on a miss), so no other module names
a cache or staging path. A cached Spark frame goes
through :func:`cached_parquet`, which takes a builder instead of a
frame and calls it only on a miss: probing before building is the
cache's rule, not each caller's, so a warm call never pays a
builder's eager jobs. Their rules:

- **complete keys** — callers must fold every output-affecting
  parameter (shingle width, permutation count, algorithm version)
  into the cache key; the helper just namespaces it;
- **private staging, atomic publish** — ``write`` fills
  ``<final>.tmp.<pid>.<uuid4 hex>``, a name no other process or
  thread shares, and the result is ``os.replace``d into place, so a
  reader never observes a half-written entry and a race between
  writers resolves to exactly one winner;
- **validity** — an entry is served only while every ``*.parquet``
  file in it has a readable footer (``pq.read_metadata`` on the
  driver, no Spark job), checked once per
  ``sources.parquet.fingerprint`` of the entry; an invalid entry (a
  truncated file) is renamed aside, removed and rebuilt as a miss;
- **sweep** — before a build, ``<final>.tmp.<pid>*`` siblings whose
  pid is no longer alive (a crashed writer's) are removed;
- **private location** — defaults to ``<repo>/.cache`` (overridable
  via ``RAFT_C_SPARK_CACHE_DIR``) instead of the world-writable
  system tempdir, so another user on a shared host cannot pre-create
  a poisoned cache path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from raft_c_spark.sources.parquet import fingerprint, read_parquet

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

#: entry path -> the fingerprint its footers were last read at;
#: cleared past 4096 entries, like the schema memo
_VALID: dict[str, tuple] = {}


def cache_root() -> str:
    return os.environ.get(
        "RAFT_C_SPARK_CACHE_DIR", os.path.join(_REPO_ROOT, ".cache")
    )


#: optional observer called once with the key of every
#: :func:`materialize` consult. bench.py installs one
#: per query so BENCH_FULL can flag queries whose warm timing shares a
#: materialization with another query (a shared-cache consumer's warm
#: min measures a parquet read, not the operator's compute).
_key_observer = None


def set_key_observer(fn) -> None:
    global _key_observer
    _key_observer = fn


def _entry_path(key: str) -> str:
    """Absolute path for a cache entry; reports the consult to the key
    observer. ``key`` must encode every parameter that affects the
    cached content (data fingerprint, algorithm params, format
    version)."""
    if not key or "/" in key or key.startswith("."):
        raise ValueError(f"bad cache key: {key!r}")
    if _key_observer is not None:
        _key_observer(key)
    return os.path.join(cache_root(), key)


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


def _staging(final: str) -> str:
    return f"{final}.tmp.{os.getpid()}.{uuid.uuid4().hex}"


def _valid(final: str) -> bool:
    """Whether ``final`` is a complete entry; an invalid one is moved
    aside (under a staging name, so the sweep collects it if this
    process dies mid-removal) and removed."""
    fp = fingerprint(final)
    if fp is None:
        return False
    if _VALID.get(final) == fp:
        return True
    single = len(fp) == 1 and fp[0][0] == "."
    try:
        for rel, _size, _mtime in fp:
            if single or rel.endswith(".parquet"):
                pq.read_metadata(final if single else os.path.join(final, rel))
    except (OSError, pa.ArrowException):
        aside = _staging(final)
        try:
            os.rename(final, aside)
        except OSError:
            return False  # another consult moved it first
        _remove(aside)
        return False
    if len(_VALID) > 4096:
        _VALID.clear()
    _VALID[final] = fp
    return True


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def _sweep(final: str) -> None:
    """Remove the staging siblings of ``final`` left by dead writers."""
    root, name = os.path.split(final)
    prefix = f"{name}.tmp."
    for sib in os.listdir(root):
        if sib.startswith(prefix):
            pid = sib[len(prefix):].split(".", 1)[0]
            if pid.isdigit() and not _alive(int(pid)):
                _remove(os.path.join(root, sib))


def materialize(key: str, write: Callable[[str], object]) -> str:
    """Path of the valid entry for ``key``, built on a miss by
    ``write(staging)``, which must create a complete file or
    directory at ``staging``; it is removed if ``write`` raises."""
    final = _entry_path(key)
    if _valid(final):
        return final
    os.makedirs(os.path.dirname(final), exist_ok=True)
    _sweep(final)
    staging = _staging(final)
    try:
        write(staging)
    except BaseException:
        _remove(staging)
        raise
    publish_atomic(staging, final)
    return final


def publish_atomic(staging: str, final: str) -> None:
    """Atomically move a fully-written staging path into place; if a
    concurrent writer already published, keep theirs and discard
    ours (content is deterministic per key, so either copy is
    correct)."""
    try:
        os.replace(staging, final)
    except OSError:
        _remove(staging)
        if not os.path.exists(final):
            raise


def cached_parquet(
    spark: SparkSession, key: str | None, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame ``build()`` returns, written as parquet under ``key``
    once and read back. ``build`` is called only on a miss, so a hit
    never runs the jobs a builder starts while it constructs its plan
    (the ``count()`` behind a measured cap, a nested cache's build).
    With ``key=None`` the frame is not cached: ``build()`` is returned.

    ``key`` must uniquely fingerprint the EXACT input frame (its
    rows AND columns — ``data_cache_key`` covers the backing file;
    any upstream filter/transform must be folded in too) plus every
    output-affecting parameter: the cache cannot detect that a
    filtered frame was built under an old key, and serves the
    stale full-corpus entry silently."""
    if key is None:
        return build()
    path = materialize(key, lambda staging: build().write.parquet(staging))
    return read_parquet(spark, path)


def data_cache_key(sf_dir: str, table: str) -> str:
    """Cache key tied to the actual data (sf dir basename + the
    table's ``fingerprint``: mtime in ns and size of the file, or a
    digest of every file's for a directory), so persisted
    indexes/signatures can NEVER go stale when the data is rewritten —
    even in place, same size, within the same second — a new file
    means a new key and a fresh build."""
    fp = fingerprint(os.path.join(sf_dir, f"{table}.parquet"))
    if fp is None:
        tag = "nofile"
    elif len(fp) == 1 and fp[0][0] == ".":
        tag = f"{fp[0][2]}_{fp[0][1]}"
    else:
        tag = hashlib.sha1(repr(fp).encode()).hexdigest()[:16]
    return f"{os.path.basename(sf_dir.rstrip('/'))}_{tag}"
