"""Batched result streaming — the ts_stream analog.

The reference streams full-table SELECTs to the client in
≤1000-record batches with an explicit final chunk (ts_stream,
src/timeseries.c:1031-1137; batch size src/tcc.c:22). Spark-side, the
same contract is ``toLocalIterator`` — partitions are materialized
one at a time, so the driver never holds the full result — re-chunked
to the reference's batch size. The caller's thread drives the
iterator; the wire server's handler threads call it directly. A
result the driver already holds (``tsstore.Answer``) is chunked from
its Arrow table, with no Spark call.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Row

from raft_c_spark.sources.tsstore import Answer

#: reference stream batch size (src/timeseries.c:1040, src/tcc.c:22)
STREAM_BATCH_SIZE = 1000


def stream_results(
    df: DataFrame, batch_size: int = STREAM_BATCH_SIZE
) -> Iterator[list[tuple]]:
    """Yield the result in order as ≤batch_size chunks of row tuples
    (``Row``s from Spark); the last chunk is the 'final chunk'
    (possibly empty result → no chunks, matching the reference's
    empty-array response)."""
    if isinstance(df, Answer):
        for i in range(0, df.table.num_rows, batch_size):
            batch = df.table.slice(i, batch_size)
            yield list(zip(*(c.to_pylist() for c in batch.columns)))
        return
    batch: list[Row] = []
    for row in df.toLocalIterator():
        batch.append(row)
        if len(batch) >= batch_size:
            yield batch
            batch = []
    if batch:
        yield batch
