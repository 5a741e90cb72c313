"""bench.py's scale tier: ``replicate`` keeps the base corpus's
duplicate structure, so exact pair finders see ``m`` times the base
pairs (not ``m - 1`` near-copies of every document)."""

from __future__ import annotations

import bench
from jobinsight_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

SF = "/root/testdata/sf0.001"


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
