"""The package's one reader for parquet whose schema the caller does
not already know.

``spark.read.parquet(path)`` without a schema runs one Spark job
(``parquet at ...``) to read a footer, on every call, although the
footer has not changed since the last query. :func:`read_parquet`
infers each path's schema once per file fingerprint and afterwards
hands Spark that schema, which plans the same scan without a job (the
reference likewise never discovers a record layout at query time: its
partitions have a fixed layout, src/partition.c:47-60).

A memo entry is ``path -> (fingerprint, parquet confs, schema)``. It is
served only while both still match:

- :func:`fingerprint` is ``(relpath, st_size, st_mtime_ns)`` of the
  file, or of every file under the directory, so a rewrite (even a
  same-size one within the same second) or an added part file
  re-infers;
- the confs are the session's explicitly set keys that change what
  inference returns (every ``*parquet*`` key — ``binaryAsString``,
  ``int96AsTimestamp``, ``inferTimestampNTZ``, ``nanosAsLong``,
  ``mergeSchema`` — and partition-column type inference).

A path that cannot be stat'ed (a non-local URI) gets the plain
inferred read and is never memoised. Readers that already pass a fixed
schema (``sources/tsstore.py``) do not need this.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

#: path -> (fingerprint, schema confs, schema); cleared past 4096
#: entries, like the footer memos
_SCHEMA_MEMO: dict[str, tuple] = {}

#: substrings of the conf keys whose value can change an inferred
#: parquet schema
_SCHEMA_CONFS = ("parquet", "partitionColumnTypeInference")


def local_path(uri: str) -> str | None:
    """Filesystem path of a local path or ``file:`` URI (as
    ``DataFrame.inputFiles`` returns them); ``None`` for any other
    scheme."""
    for pre in ("file://", "file:"):
        if uri.startswith(pre):
            return uri[len(pre):]
    return None if "://" in uri else uri


def fingerprint(path: str) -> tuple | None:
    """``((relpath, st_size, st_mtime_ns), ...)`` of the file at
    ``path`` (relpath ``"."``) or of every file under the directory,
    sorted; ``None`` when ``path`` cannot be stat'ed."""
    p = local_path(path)
    if p is None:
        return None
    try:
        st = os.stat(p)
        if not stat.S_ISDIR(st.st_mode):
            return ((".", st.st_size, st.st_mtime_ns),)
        out = []
        for root, _dirs, files in os.walk(p):
            for name in files:
                f = os.path.join(root, name)
                st = os.stat(f)
                out.append((os.path.relpath(f, p), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(out))


def _schema_confs(spark: SparkSession) -> tuple:
    """The session's set ``_SCHEMA_CONFS`` keys as sorted ``"key ->
    value"`` lines. The conf map crosses to Python as one string:
    ``spark.conf.getAll`` converts it entry by entry over py4j, which
    costs about 20 ms against 1 ms."""
    lines = spark._jsparkSession.conf().getAll().mkString("\n").split("\n")
    return tuple(
        sorted(
            kv
            for kv in lines
            if any(s in kv.partition(" -> ")[0] for s in _SCHEMA_CONFS)
        )
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per
    (fingerprint, parquet confs): a memo hit plans the scan with that
    schema and starts no job."""
    fp = fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    confs = _schema_confs(spark)
    hit = _SCHEMA_MEMO.get(path)
    if hit is not None and hit[0] == fp and hit[1] == confs:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    if len(_SCHEMA_MEMO) > 4096:
        _SCHEMA_MEMO.clear()
    _SCHEMA_MEMO[path] = (fp, confs, df.schema)
    return df
