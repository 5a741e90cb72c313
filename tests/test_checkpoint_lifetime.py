"""Per-invocation eager localCheckpoints must be releasable.

Operators whose OUTPUT references a per-invocation pin (bm25_scores'
per-term base, triangle_counts' edge lists, exact_match_spans' anchor
set, semantic_dedup's assignment, bigram_logprob's count grain,
wordpiece_word_table's word table) cannot free it before returning —
the blocks are the only copy once lineage is truncated. They now record
their pins on the returned frame (components.register_pins) so a caller
can free them after the last action; without that, every invocation in
a long-lived session leaks block-manager storage until session end
(guide §5; the r12 verdict's checkpoint-lifetime item).

The assertion is on the SparkContext's RDD storage info: repeated
invoke → materialize → free_pins cycles must not grow the set of
stored RDDs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.components import free_pins

SF = "/root/testdata/sf0.001"


def _stored_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@pytest.mark.parametrize("rounds", [3])
def test_bm25_scores_pins_freed(spark, rounds):
    from jobinsight_data_pipeline_spark.operators.ranking import bm25_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    before = _stored_rdds(spark)
    for _ in range(rounds):
        out = bm25_scores(docs, ["spark", "vector"])
        assert getattr(out, "_pinned_checkpoints", None), "pin not recorded"
        _materialize(out)
        free_pins(out)
    assert _stored_rdds(spark) <= before


@pytest.mark.parametrize("rounds", [3])
def test_triangle_counts_pins_freed(spark, rounds):
    from jobinsight_data_pipeline_spark.operators.components import (
        triangle_counts,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    edges = docs.selectExpr(
        "doc_id % 101 AS src", "(doc_id * 31 + 17) % 101 AS dst"
    )
    before = _stored_rdds(spark)
    for _ in range(rounds):
        out = triangle_counts(edges)
        assert len(getattr(out, "_pinned_checkpoints", [])) == 2
        _materialize(out)
        free_pins(out)
    assert _stored_rdds(spark) <= before


@pytest.mark.parametrize("rounds", [2])
def test_exact_spans_and_semantic_dedup_pins_freed(spark, rounds):
    from jobinsight_data_pipeline_spark.operators.dedup import (
        exact_match_spans,
    )
    from jobinsight_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    before = _stored_rdds(spark)
    for _ in range(rounds):
        spans = exact_match_spans(docs, "doc_id", "text", k=8, min_len=15)
        _materialize(spans)
        free_pins(spans)
        sd = semantic_dedup(emb, threshold=0.4, n_clusters=16)
        _materialize(sd)
        free_pins(sd)
    assert _stored_rdds(spark) <= before


def test_free_pins_is_idempotent_and_safe_on_plain_frames(spark):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    free_pins(df)  # no pins recorded: must be a no-op
    from jobinsight_data_pipeline_spark.operators.ranking import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    top = bm25_topk(docs, ["spark"], k=5)
    assert getattr(top, "_pinned_checkpoints", None), "topk must inherit pin"
    rows = top.collect()
    assert len(rows) == 5
    free_pins(top)
    free_pins(top)  # second call: empty list, still safe


@pytest.mark.parametrize("rounds", [3])
def test_bench_materialize_frees_pins(spark, rounds):
    """bench.py's timed runs go through ``materialize``: it frees the
    pins of the frame it ran, so repeated runs keep storage flat."""
    import bench
    from jobinsight_data_pipeline_spark.operators.ranking import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    before = _stored_rdds(spark)
    for _ in range(rounds):
        bench.materialize(bm25_topk(docs, ["spark", "vector"], k=20))
    assert _stored_rdds(spark) <= before


def test_stream_dsir_counts_memoized(spark):
    """``q_stream_dsir``'s merged bin table is pinned once per state dir
    in the session memo: repeated calls keep storage flat, and
    ``release`` frees it."""
    from jobinsight_data_pipeline_spark.catalog import release
    from jobinsight_data_pipeline_spark.catalog.textml import q_stream_dsir

    release(spark)
    baseline = _stored_rdds(spark)
    counts = []
    for _ in range(3):
        _materialize(q_stream_dsir(spark, SF))
        counts.append(_stored_rdds(spark))
    assert counts == [counts[0]] * 3, counts
    release(spark)
    assert _stored_rdds(spark) <= baseline
