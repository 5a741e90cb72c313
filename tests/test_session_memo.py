"""The catalog's one session-scoped memo (`catalog.memo` / `release`).

Gate state that is deterministic in its argument (cached warehouses,
fitted models, checkpointed corpora) is built once per ``(name, arg)``
and reused; each name keeps one generation; ``release`` frees every
held frame now. Storage is asserted on the SparkContext's RDD storage
info, as in test_checkpoint_lifetime.
"""

from __future__ import annotations

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
