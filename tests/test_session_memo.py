"""The catalog's one session-scoped memo (`catalog.memo` / `release`).

Gate state that is deterministic in its argument (cached warehouses,
fitted models, checkpointed corpora) is built once per ``(name, arg)``
and reused; each name keeps one generation; ``release`` frees every
held frame now. Storage is asserted on the SparkContext's RDD storage
info, as in test_checkpoint_lifetime.
"""

from __future__ import annotations

import os

from jobinsight_data_pipeline_spark import catalog
from jobinsight_data_pipeline_spark.catalog import memo, release


def _stored_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _is_cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_memo_builds_once_per_name_and_arg(spark):
    calls: list[int] = []

    def build():
        calls.append(1)
        return [spark.range(5), {"model": len(calls)}]

    first = memo(spark, "test_once", "a", build)
    again = memo(spark, "test_once", "a", build)
    assert again is first
    assert len(calls) == 1
    assert memo(spark, "test_once_other", "a", build) is not first
    assert memo(spark, "test_once", "a", build) is first  # other name kept
    assert len(calls) == 2
    release(spark)


def test_new_arg_unpersists_the_old_generation(spark):
    old = spark.range(200).selectExpr("id * 3 AS x").cache()
    old.count()
    memo(spark, "test_generation", "sf_a", lambda: [old])
    assert _is_cached(old)
    new = memo(spark, "test_generation", "sf_b", lambda: spark.range(3).cache())
    assert not _is_cached(old)
    assert _is_cached(new)
    release(spark)
    assert not _is_cached(new)


def test_eviction_frees_local_checkpoint_storage(spark):
    """A new arg drops the old generation as ``release`` does: its
    localCheckpoint blocks (which ``unpersist`` alone leaves behind)
    are freed at eviction, not left until the context ends."""
    release(spark)
    before = _stored_rdds(spark)
    memo(
        spark, "test_evict_ckpt", "sf_a",
        lambda: spark.range(1000).localCheckpoint(eager=True),
    )
    assert _stored_rdds(spark) == before + 1
    memo(spark, "test_evict_ckpt", "sf_b", lambda: 7)
    assert _stored_rdds(spark) <= before
    release(spark)


def test_release_returns_storage_to_baseline(spark):
    release(spark)
    before = _stored_rdds(spark)

    cached = memo(
        spark, "test_cached", "x",
        lambda: spark.range(1000).selectExpr("id * 2 AS x").cache(),
    )
    cached.count()
    memo(
        spark, "test_ckpt", "x",
        lambda: spark.range(1000).selectExpr("id + 1 AS y").localCheckpoint(
            eager=True
        ),
    )
    assert _stored_rdds(spark) >= before + 2

    release(spark)
    assert _stored_rdds(spark) <= before


def test_call_after_release_rebuilds(spark):
    calls: list[int] = []

    def build():
        calls.append(1)
        return len(calls)

    assert memo(spark, "test_rebuild", "x", build) == 1
    assert memo(spark, "test_rebuild", "x", build) == 1
    release(spark)
    assert memo(spark, "test_rebuild", "x", build) == 2
    release(spark)


def test_new_application_drops_entries_untouched(spark):
    stale = spark.range(50).cache()
    stale.count()
    catalog._MEMO["test_stale"] = ("an-earlier-application", "x", stale)
    assert memo(spark, "test_fresh", "x", lambda: 7) == 7
    assert "test_stale" not in catalog._MEMO
    assert _is_cached(stale)  # dropped, not unpersisted
    stale.unpersist()
    release(spark)


def test_on_disk_gate_state_follows_the_memo(spark):
    """State a gate builds on disk is memoized like in-memory state:
    repeat calls read the same dir, ``release`` makes the next call
    rebuild into a fresh dir, and a frame from before the release still
    reads its files (dirs are removed only at exit)."""
    from jobinsight_data_pipeline_spark.catalog.textml import q_stream_hll

    sf = "/root/testdata/sf0.001"
    first = q_stream_hll(spark, sf)
    rows = sorted(first.collect())
    second = q_stream_hll(spark, sf)
    assert set(second.inputFiles()) == set(first.inputFiles())

    release(spark)
    third = q_stream_hll(spark, sf)

    def dirs(df):
        return {os.path.dirname(os.path.dirname(f)) for f in df.inputFiles()}

    assert dirs(third).isdisjoint(dirs(first))
    assert sorted(third.collect()) == rows
    assert sorted(first.collect()) == rows
    release(spark)
