"""What a stretch of driver code cost: the one place that measures a
query.

``phase(spark)`` wraps a step (a query's plan build, its execution)
and records on exit:

- wall seconds;
- CPU seconds of the process tree, split into this Python driver, the
  JVM (in local mode the executors run inside it) and the Python
  workers the JVM forked, from ``/proc``. A worker that exits inside
  the phase takes its CPU with it; Spark reuses workers, so that is
  rare;
- JVM garbage-collection milliseconds, summed over the GC beans;
- the Spark jobs submitted inside the phase: the DAG scheduler's job-id
  counter, read before and after. That counts every thread's jobs,
  streaming micro-batches included, which a job group would miss, and
  needs no wait for the listener bus. It also counts a concurrent
  caller's jobs, so measure one caller at a time;
- after the phase, the RDDs Spark holds persisted and their memory and
  disk bytes.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import SparkSession

_CLK = os.sysconf("SC_CLK_TCK")


@dataclass
class Phase:
    """What one ``phase`` measured; the CPU fields are seconds."""

    wall_s: float = 0.0
    jobs: int = 0
    cpu_pydriver_s: float = 0.0
    cpu_jvm_s: float = 0.0
    cpu_pyworker_s: float = 0.0
    gc_ms: int = 0
    storage_rdds: int = 0
    storage_bytes: int = 0


def _cpu_split() -> tuple[float, float, float]:
    """CPU seconds used so far by (this process, its JVM descendants,
    every other descendant: the Python workers)."""
    procs: dict[int, tuple[str, int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                s = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        comm = s[s.index("(") + 1 : s.rindex(")")]
        rest = s[s.rindex(")") + 2 :].split()
        # fields after comm: 0=state 1=ppid ... 11=utime 12=stime
        procs[int(name)] = (comm, int(rest[1]), (int(rest[11]) + int(rest[12])) / _CLK)
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    me = os.getpid()
    driver, jvm, workers = procs[me][2], 0.0, 0.0
    stack, seen = list(kids.get(me, [])), {me}
    while stack:
        p = stack.pop()
        if p in seen or p not in procs:
            continue
        seen.add(p)
        comm, _, cpu = procs[p]
        if comm == "java":
            jvm += cpu
        else:
            workers += cpu
        stack.extend(kids.get(p, []))
    return driver, jvm, workers


def gc_ms(spark: SparkSession) -> int:
    """Milliseconds the driver JVM has spent in garbage collection."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    # indexed access: iterating a py4j list costs ~20 ms, this ~1 ms
    return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size()))


def _next_job_id(spark: SparkSession) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _storage(spark: SparkSession) -> tuple[int, int]:
    sc = spark.sparkContext._jsc.sc()
    # storage sizes come from the status store, fed by the listener bus
    sc.listenerBus().waitUntilEmpty()
    infos = list(sc.getRDDStorageInfo())
    return len(infos), sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


@contextmanager
def phase(spark: SparkSession) -> Iterator[Phase]:
    """Measure the ``with`` body; the yielded ``Phase`` is filled in
    when the body returns (an exception leaves it empty). The counters
    are read outside the timed interval, so ``wall_s`` excludes their
    cost."""
    rec = Phase()
    c0, g0, j0 = _cpu_split(), gc_ms(spark), _next_job_id(spark)
    t0 = time.perf_counter()
    yield rec
    rec.wall_s = time.perf_counter() - t0
    rec.jobs = _next_job_id(spark) - j0
    rec.gc_ms = gc_ms(spark) - g0
    rec.cpu_pydriver_s, rec.cpu_jvm_s, rec.cpu_pyworker_s = (
        b - a for a, b in zip(c0, _cpu_split())
    )
    rec.storage_rdds, rec.storage_bytes = _storage(spark)
