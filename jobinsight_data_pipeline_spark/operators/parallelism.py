"""Scan-parallelism guard for CPU-dense map stages.

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
