"""``raft_c_spark.trace``: what one phase of driver code records, and
the guard that keeps it the only code measuring a query."""

from __future__ import annotations

import os
import re
import threading

from raft_c_spark import trace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_build_and_execute_phases_count_their_jobs(spark):
    """A one-partition ``count()`` is one job (no exchange), and so is a
    noop write; each lands in the phase that ran it."""
    with trace.phase(spark) as build:
        df = spark.range(0, 100, 1, 1)
        assert df.count() == 100
    with trace.phase(spark) as execute:
        df.write.format("noop").mode("overwrite").save()
    assert (build.jobs, execute.jobs) == (1, 1)
    assert build.wall_s > 0 and execute.wall_s > 0


def test_streaming_micro_batch_jobs_are_counted(spark, tmp_path):
    """Micro-batches run on the query's own thread under its own job
    group; the phase counts their jobs all the same."""
    spark.range(50).write.parquet(str(tmp_path / "src"))
    batches = []
    lock = threading.Lock()

    def each_batch(batch, batch_id):
        with lock:
            batches.append(batch_id)
        batch.write.format("noop").mode("overwrite").save()

    with trace.phase(spark) as p:
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src"))
            .writeStream.foreachBatch(each_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300)
        finally:
            q.stop()
    assert batches
    # each batch's noop write is one job; the query may add its own
    assert p.jobs >= len(batches)


def test_cpu_split_and_gc_readings(spark):
    """JVM work shows as JVM CPU, and the GC reading only grows: phases
    never report a negative GC delta."""
    readings = [trace.gc_ms(spark)]
    with trace.phase(spark) as p:
        spark.range(0, 2_000_000, 1, 2).selectExpr("sum(id * 7 % 13)").collect()
        readings.append(trace.gc_ms(spark))
        spark._jvm.System.gc()
        readings.append(trace.gc_ms(spark))
    readings.append(trace.gc_ms(spark))
    assert p.cpu_jvm_s > 0
    assert p.cpu_pydriver_s >= 0 and p.cpu_pyworker_s >= 0
    assert readings == sorted(readings)
    assert p.gc_ms >= 0


def test_storage_counts_a_materialised_cache(spark):
    df = spark.range(1000).cache()
    try:
        with trace.phase(spark) as p:
            df.count()
        assert p.storage_rdds >= 1
        assert p.storage_bytes > 0
    finally:
        df.unpersist(blocking=True)
    with trace.phase(spark) as after:
        pass
    assert after.storage_rdds < p.storage_rdds


#: a read of a process's ``/proc/<pid>/stat``, the DAG scheduler's job
#: counter, a job group, or the JVM's GC beans
_MEASUREMENT = re.compile(
    r"/proc/\S*/stat\b|numTotalJobs|setJobGroup|getJobIdsForGroup"
    r"|getGarbageCollectorMXBeans|getCollectionTime"
)


def test_no_measurement_code_outside_trace():
    """Query CPU, jobs and GC are measured by ``raft_c_spark/trace.py``
    alone; a second copy would measure a query its own way again.
    ``perfbench/`` is exempt: it is the independent meter."""
    own = {
        os.path.join("raft_c_spark", "trace.py"),
        os.path.join("tests", "test_trace.py"),
    }
    files = [os.path.join(REPO, "bench.py")]
    for top in ("raft_c_spark", "scripts", "tests"):
        for root, _dirs, names in os.walk(os.path.join(REPO, top)):
            files += [os.path.join(root, n) for n in names if n.endswith((".py", ".sh"))]
    offenders = []
    for f in files:
        rel = os.path.relpath(f, REPO)
        if rel in own:
            continue
        with open(f, encoding="utf-8") as fh:
            text = fh.read()
        for m in _MEASUREMENT.finditer(text):
            offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1}: {m.group()}")
    assert offenders == []
