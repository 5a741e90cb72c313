#!/usr/bin/env python
"""Dump .explain("formatted") plans for catalog queries and the
bench-only operator paths into plans/<tag>/<name>_<suffix>.txt.

Usage: python scripts/dump_plans.py <suffix> [names...]
  suffix: e.g. "before" / "after" (file suffix under plans/$PLANS_TAG,
          default tag r12)
  names:  query names; default = a curated hot set.

Catalog names resolve via build_catalog(); a few bench-only operator
paths (ngram_jaccard, minhash_lsh, ivf_pq_serve_many, ...) are
replicated here exactly as bench.py builds them.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobinsight_data_pipeline_spark.catalog import build_catalog
from jobinsight_data_pipeline_spark.session import get_spark

DEFAULT_NAMES = [
    "star_revenue",
    "top10_customers",
    "monthly_orders",
    "retrieval_eval",
    "hybrid_search",
    "dsir_select",
    "salary_parse",
    "bigram_lm",
    "text_stats",
    "exact_spans",
    "wordpiece_fertility",
    "unigram_encode",
    "pq_encode",
    "ivf_pq_build",
    "ivf_pq_serve_many",
    "ivf_pq_residual_serve",
    "incremental_dedup",
    "embedding_lsh_near_dup",
    "dedup_band_curve",
    "image_dhash_pairs",
    "semantic_dedup",
    "incremental_semantic_dedup",
    "triangle_count",
    "fim_transform",
    "span_corrupt",
    "hist_quantiles",
    "hll_estimate",
    "funnel_reanchor",
    "label_prop",
]


def plan_str(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def bench_only_builders(spark, sf_dir):
    """The bench.py direct-operator paths, replicated verbatim."""
    from pyspark.sql import functions as F  # noqa: F401

    from jobinsight_data_pipeline_spark.operators.bpe import (
        bpe_encode,
        bpe_encode_memoized,
    )
    from jobinsight_data_pipeline_spark.operators.dedup import (
        build_dedup_state,
        duplicate_spans,
        exact_match_spans,
        incremental_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
        winnow_overlap_pairs,
    )
    from jobinsight_data_pipeline_spark.operators.ranking import bm25_topk
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_ivf_pq_index,
        build_semantic_state,
        incremental_semantic_dedup,
        ivf_pq_topk_many,
        lsh_cosine_topk,
        pq_codebooks,
        pq_encode,
        semantic_dedup,
        unit_centroids,
    )
    from jobinsight_data_pipeline_spark.operators.sketches import (
        hll_registers,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import (
        bigram_logprob,
        dedup_paragraphs,
        redact_pii,
    )
    from jobinsight_data_pipeline_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
        words_with_freq,
    )
    from jobinsight_data_pipeline_spark.operators.wordpiece import (
        wordpiece_word_table,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import (
        tokens as _wp_tokens,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cb = pq_codebooks()
    cents = unit_centroids(64, 16, seed=11)
    rcb = pq_codebooks(dim=64, m=8, k=16, seed=5)

    def _wp_fert():
        wt = wordpiece_word_table(spark, docs)
        toks = docs.select(
            "source",
            F.explode(F.transform(_wp_tokens("text"), F.lower)).alias("w"),
        ).where(F.col("w") != "")
        return (
            toks.join(wt.select("w", "n_pieces"), "w")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum("n_pieces").alias("n_pieces"),
            )
            .withColumn(
                "fert_milli", F.expr("(1000L * n_pieces) div n_words")
            )
        )

    def _serve_many():
        import tempfile

        idx_path = tempfile.mkdtemp(prefix="plan_ivfpq_") + "/idx"
        build_ivf_pq_index(emb, cents, cb).repartition("cell").write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(idx_path)
        index = spark.read.parquet(idx_path)
        qbatch = emb.filter("vec_id < 20").selectExpr(
            "vec_id AS query_id", "embedding"
        )
        return ivf_pq_topk_many(index, qbatch, cents, cb, k=10, n_probe=4)

    def _resid_serve():
        return ivf_pq_topk_many(
            build_ivf_pq_index(emb, cents, rcb, residual=True),
            emb.filter("vec_id < 20").selectExpr(
                "vec_id AS query_id", "embedding"
            ),
            cents,
            rcb,
            k=10,
            n_probe=4,
            residual=True,
        )

    def _unigram_encode():
        um_model = unigram_train(
            spark, words_with_freq(docs), rounds=3, seed_k=80, vocab_k=40
        )
        return unigram_encode(spark, docs, um_model)

    emb2 = emb.select("vec_id", "embedding")
    return {
        "ngram_jaccard": lambda: ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ),
        "minhash_lsh": lambda: minhash_lsh_pairs(docs, "doc_id", "text"),
        "simhash_pairs": lambda: simhash_near_pairs(
            docs, "doc_id", "text", max_hamming=3
        ),
        "embedding_lsh_topk": lambda: lsh_cosine_topk(
            emb, emb.filter("vec_id < 20"), k=5
        ),
        "duplicate_spans": lambda: duplicate_spans(docs, "doc_id", "text", n=8),
        "semantic_dedup": lambda: semantic_dedup(
            emb, threshold=0.4, n_clusters=16
        ),
        "pii_scrub": lambda: redact_pii(docs, "text"),
        "bm25_topk": lambda: bm25_topk(
            docs, ["spark", "vector", "customer"], k=100
        ),
        "paragraph_dedup": lambda: dedup_paragraphs(docs, mode="keep_first"),
        "bigram_lm": lambda: bigram_logprob(docs, "doc_id"),
        "winnow_overlap": lambda: winnow_overlap_pairs(
            docs, "doc_id", "text", k=5, window=4, min_shared=2
        ),
        "pq_encode": lambda: pq_encode(emb, cb),
        "bpe_encode": lambda: bpe_encode(docs),
        "bpe_memoized": lambda: bpe_encode_memoized(
            docs, word_encoder="python"
        ),
        "incremental_dedup": lambda: incremental_dedup(
            docs.filter("doc_id % 2 = 1"),
            build_dedup_state(docs.filter("doc_id % 2 = 0")),
        ),
        "incremental_semantic_dedup": lambda: incremental_semantic_dedup(
            emb2.filter("vec_id % 2 = 1"),
            build_semantic_state(
                emb2.filter("vec_id % 2 = 0"), unit_centroids(64, 16, seed=11)
            ),
            unit_centroids(64, 16, seed=11),
            threshold=0.4,
        ),
        "exact_spans": lambda: exact_match_spans(
            docs, "doc_id", "text", k=8, min_len=15
        ),
        # mirrors bench.py: the encode widens its own scan, then the
        # narrow codes are shuffled to the cell grain for the
        # partitioned write (r12)
        "ivf_pq_build": lambda: build_ivf_pq_index(
            emb, cents, cb
        ).repartition("cell"),
        "ivf_pq_serve_many": _serve_many,
        "ivf_pq_residual_serve": _resid_serve,
        "wordpiece_fertility": _wp_fert,
        "unigram_encode": _unigram_encode,
        "hll_registers": lambda: hll_registers(li, "l_orderkey"),
        "triangle_count": lambda: __import__(
            "jobinsight_data_pipeline_spark.operators.components",
            fromlist=["triangle_counts"],
        ).triangle_counts(
            docs.selectExpr(
                "doc_id % 10007 AS src", "(doc_id * 31 + 17) % 10007 AS dst"
            ).unionAll(
                docs.selectExpr(
                    "(doc_id * 7 + 3) % 10007 AS src",
                    "(doc_id * 13 + 5) % 10007 AS dst",
                )
            )
        ),
    }


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT_NAMES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("PLANS_TAG", "r12")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="dump-plans")
    queries, _ = build_catalog()
    bench = bench_only_builders(spark, sf_dir)

    for name in names:
        try:
            if name in bench:
                df = bench[name]()
            elif name in queries:
                df = queries[name](spark, sf_dir)
            else:
                print(f"SKIP {name}: unknown")
                continue
            text = plan_str(df)
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(text)
            n_ex = text.count("Exchange")
            joins = [
                j
                for j in (
                    "BroadcastHashJoin",
                    "SortMergeJoin",
                    "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin",
                )
                if j in text
            ]
            pyn = [
                p
                for p in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
                if p in text
            ]
            print(f"OK   {name}: Exchange×{n_ex} joins={joins} python={pyn}")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}")


if __name__ == "__main__":
    main()
