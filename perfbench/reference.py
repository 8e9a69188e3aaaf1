"""A reference job that tracks the shared host's speed.

Other tenants move this host's speed by tens of percent from one
minute to the next. The reference job runs fixed, stdlib-only Python
work in K Arrow-batched tasks on the benchmark's own session, through
the same scheduler and Python workers as the workloads. Nothing in it
calls the package, so a change to the program cannot move it. Timing
it just before and just after the timed passes gives the host's speed
while they ran.
"""

from __future__ import annotations

import statistics
import time

# stdlib work per task: about 0.3 s on a quiet 4-core host
_ROUNDS = 300_000


def _spin(batches):
    import pyarrow as pa

    for batch in batches:
        table = {k: "" for k in range(1024)}
        acc = 0
        for i in range(_ROUNDS):
            table[i & 1023] = str(i)
            acc += len(table[(i * 7) & 1023])
        yield pa.RecordBatch.from_arrays(
            [pa.array([acc] * batch.num_rows, pa.int64())], names=["acc"])


def reference_s(spark, tasks: int, jobs: int = 2) -> float:
    """Median wall seconds of ``jobs`` runs of the reference job."""
    times = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        (spark.range(tasks, numPartitions=tasks).mapInArrow(_spin, "acc long")
         .write.format("noop").mode("overwrite").save())
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
