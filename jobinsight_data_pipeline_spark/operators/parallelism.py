"""Parallelism helpers: the scan-width guard for CPU-dense map stages,
and concurrent submission of independent driver-side steps.

A parquet scan's task count is bounded by row-group layout, not cores: a
single-file/single-row-group table (exactly what small scale factors
produce) yields ONE effective scan task, so any CPU-heavy work fused
into the scan stage — regex parsing, shingling, hashing, vector math —
runs serially no matter how many cores the cluster has.

``widen_for_cpu`` inserts a round-robin repartition ONLY when the scan's
partition count is below the cluster parallelism. At 100 TB the scan
has thousands of row-group splits and this is a no-op (no shuffle is
added); at bench/test scale it unlocks the other 31 cores for ~3x wall
wins on parse-heavy plans (measured on the sf0.1 salary bench: 5.5s →
1.7s steady-state).

Operators own their scan width: a CPU-dense operator starts with
``df = widen_for_cpu(df)`` on the caller's own frame, and callers widen
only Column kernels they build themselves. The probe is
``df.rdd.getNumPartitions()``:

- over a scan it lists file splits and runs no job;
- over a frame whose plan holds an Exchange it is EAGER — under AQE,
  ``df.rdd`` runs the upstream shuffle map stages as a Spark job (one
  job, 0.14–0.22 s warm on sf0.1 with 4 cores, over a join or over a
  widened frame with a ``select`` on top);
- ``DataFrame.rdd`` is a ``cached_property``, so the probe runs once per
  frame OBJECT: operators handed the same frame (the day-2 gates give
  one frame to the classifier and to the BPE encoder) pay it once
  between them, and a second widen of that frame submits no job.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def widen_for_cpu(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff it currently has
    fewer partitions; pass streams through untouched."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def ordered_collect(pos_col: str, val_col: str):
    """Aggregation expression re-assembling values in ``pos_col`` order —
    the shuffle-order-pinning idiom (collect_list gives arbitrary order;
    sorting (pos, val) structs and projecting the value restores the
    true sequence). Shared by token re-assembly and window packing."""
    from pyspark.sql import functions as F

    return F.transform(
        F.array_sort(F.collect_list(F.struct(pos_col, val_col))),
        lambda x: x[val_col],
    )


def concurrently(spark: SparkSession, *steps: Callable[[], Any]) -> list:
    """Run each zero-argument step on its own driver thread and return
    their results in step order.

    Independent actions submitted from separate threads run their Spark
    jobs side by side — one thread per step keeps the cores busy where a
    sequence of tiny jobs would leave them idle behind the driver's
    per-job overhead. Each thread is wrapped with
    ``inheritable_thread_target(spark)``, so every step's jobs carry the
    caller's job group, description and tags (``performance_monitor``
    and span tracers attribute them as if they ran inline). The wrapper
    is built per step: it snapshots the caller's local properties, and
    one shared snapshot would let a step's ``setJobGroup`` leak into its
    siblings.

    Every thread is joined before anything is raised, so no step is
    still writing when the call returns; the first failure in step order
    is then re-raised. Steps must not call ``spark.conf.set`` — session
    conf is shared by all threads.
    """
    from pyspark import inheritable_thread_target

    results: list = [None] * len(steps)
    errors: list[BaseException | None] = [None] * len(steps)

    def run(i: int, step: Callable[[], Any]) -> None:
        try:
            results[i] = step()
        except BaseException as e:  # re-raised on the caller's thread
            errors[i] = e

    def target() -> Callable:
        wrap = inheritable_thread_target(spark)
        # without pinned threads (PYSPARK_PIN_THREAD=false) there are no
        # thread-local properties to carry, and the session comes back
        return run if wrap is spark else wrap(run)

    threads = [
        threading.Thread(target=target(), args=(i, step))
        for i, step in enumerate(steps)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
