"""bench.py's entry table and scale tier: ``replicate`` keeps the base
corpus's duplicate structure, so exact pair finders see ``m`` times the
base pairs (not ``m - 1`` near-copies of every document); every entry
runs and explains; the probes that reuse the table keep executor
storage flat."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import DataFrame

import bench
from jobinsight_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))

import dump_plans  # noqa: E402
import scaling_probe  # noqa: E402

SF = "/root/testdata/sf0.001"


def _stored(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_replicate_scales_ngram_pairs_exactly(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs_m, emb_m = bench.replicate(docs, emb, 3)
    assert docs_m.count() == 3 * docs.count()
    assert emb_m.select("vec_id").distinct().count() == 3 * emb.count()

    base = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).count()
    scaled = ngram_jaccard_pairs(docs_m, "doc_id", "text", threshold=0.5)
    assert base > 0
    assert scaled.count() == 3 * base
    # no pair crosses replicas
    assert scaled.filter("doc_a % 3 != doc_b % 3").count() == 0


def test_probe_runs_keep_executor_storage_flat(spark):
    """Both operators pin per-invocation checkpoints on their output; the
    probe loop frees them after each run."""
    ctx = bench.Ctx(spark, SF)
    for name in ("bm25_topk", "triangle_count"):
        probe = scaling_probe.PROBES[name](ctx)
        before = _stored(spark)
        for _ in range(3):
            scaling_probe.timed_run(probe)
        assert _stored(spark) <= before, name


@pytest.mark.sweep
def test_every_entry_runs(spark):
    """Every direct entry (catalog-gate rows are the catalog sweep's) runs
    once, the scaled names run on a replicated tier, every frame an entry
    returns explains through dump_plans, and exactly the entries marked
    as fits or writes return no frame (dump_plans does not run those)."""
    ctx = bench.Ctx(spark, SF)
    ran = []
    for name, entry in bench.ENTRIES.items():
        if hasattr(entry, "gate"):
            continue
        out = entry(ctx)()
        assert isinstance(out, DataFrame) != hasattr(entry, "fit"), name
        if isinstance(out, DataFrame):
            assert "== Physical Plan ==" in dump_plans.plan_str(out), name
            bench.materialize(out)
        ran.append(name)
    assert set(bench.SCALED) <= set(ran)
    index = dump_plans.frame(ctx, "ivf_pq_build")
    assert "== Physical Plan ==" in dump_plans.plan_str(index)

    docs_m, emb_m = bench.replicate(ctx.documents, ctx.embeddings, 2)
    ctx_m = bench.Ctx(spark, SF, documents=docs_m, embeddings=emb_m)
    for name in bench.SCALED:
        bench.run(bench.ENTRIES[name](ctx_m))
