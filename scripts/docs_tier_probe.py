#!/usr/bin/env python
"""The 50-100x DOCS-AXIS scaling tier (r10 verdict order #4).

The driver testdata's documents axis tops out at 10x (500 -> 5,000
docs); the text/dedup/tokenizer family — the operators most likely to
hit super-linear cliffs — had the weakest growth evidence. This script
materializes a synthetic 10x-of-sf0.1 tier ONCE (50,000 docs = 100x the
sf0.001 baseline) and re-probes that family on it.

Fixture construction (deterministic, generated once under
/root/repo/.scaling-tier/):
- documents: each sf0.1 doc replicated 10x (copy 0 = the original);
  copies 1-9 substitute each whitespace token with probability 1/8 by a
  corpus-vocabulary token chosen by xxhash64(token, copy) — vocabulary
  stays the REAL corpus vocabulary (so tokenizer cost rides a
  realistically-growing distinct-word table), long exact substrings
  break (expected unmutated run ~8 tokens < the L=15 span anchor, so
  exact_spans' duplication rate stays corpus-like instead of exploding
  10x), and mutated-copy Jaccard vs the original lands ~0.5 (below the
  0.8-class near-dup thresholds — pair volume doesn't blow up either).
- embeddings: fresh seeded unit-normal 64-dim vectors per tier id
  (replicating real vectors would make every copy an exact cosine-1
  duplicate and collapse SemDeDup's survivor count to 1/10th — NOT the
  growth shape under test).

Probes run at sf0.1 and the tier (best of 2), so the ratio column is
the marginal 10x-docs growth ON TOP of the existing SCALING.md curves.

Usage: python scripts/docs_tier_probe.py [> SCALING.md section]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobinsight_data_pipeline_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
TIER = "/root/repo/.scaling-tier"
COPIES = 10
OFF = 1_000_000
VOCAB_K = 4096


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ensure_fixture(spark) -> None:
    import pyspark.sql.functions as F

    sentinel = os.path.join(TIER, "_DONE")
    if os.path.exists(sentinel):
        return
    os.makedirs(TIER, exist_ok=True)
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    vocab_rows = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), F.col("w").asc())
        .limit(VOCAB_K)
        .collect()
    )
    vocab = [r["w"] for r in vocab_rows]
    vocab_lit = (
        "array(" + ",".join("'" + w.replace("'", "''") + "'" for w in vocab) + ")"
    )
    copies = spark.range(COPIES).select(F.col("id").cast("int").alias("copy"))
    mutated = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy").cast("long") * OFF).alias(
                "doc_id"
            ),
            F.expr(
                f"""CASE WHEN copy = 0 THEN text ELSE
                array_join(transform(split(text, ' '), t ->
                    CASE WHEN pmod(xxhash64(t, copy), 8) = 0
                         THEN element_at({vocab_lit},
                             CAST(pmod(xxhash64(t, copy, 7L),
                                       {len(vocab)}) + 1 AS INT))
                         ELSE t END), ' ') END"""
            ).alias("text"),
            "lang",
            "source",
            "copy",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .drop("copy")
    )
    mutated.repartition(8).write.mode("overwrite").parquet(
        f"{TIER}/documents.parquet"
    )

    import numpy as np
    import pandas as pd

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    n_emb = emb.count()
    rng = np.random.default_rng(20260816)
    ids, vecs = [], []
    for c in range(COPIES):
        m = rng.standard_normal((n_emb, 64))
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        ids.extend(int(i + c * OFF) for i in range(n_emb))
        vecs.extend(m.astype("float32").tolist())
    pdf = pd.DataFrame({"vec_id": ids, "embedding": vecs})
    spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>"
    ).repartition(8).write.mode("overwrite").parquet(
        f"{TIER}/embeddings.parquet"
    )
    with open(sentinel, "w") as fh:
        fh.write("ok")


def _corpus_build_prep(spark, sf_dir) -> None:
    """Untimed reset before a cold corpus_build run: release the session
    memo so the 12-stage chain rebuilds, then re-memoize the learned-BPE
    merges it reads (the artifact amortizes, same posture as
    unigram_encode's pre-trained model)."""
    from jobinsight_data_pipeline_spark.catalog import release
    from jobinsight_data_pipeline_spark.catalog.textml import _learned_merges

    release(spark)
    _learned_merges(spark, sf_dir)


def probes(spark, sf_dir):
    import pyspark.sql.functions as F

    from jobinsight_data_pipeline_spark.catalog.textml import q_corpus_build
    from jobinsight_data_pipeline_spark.operators.dedup import (
        exact_dedup,
        exact_match_spans,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import (
        tokens as _wp_tokens,
    )
    from jobinsight_data_pipeline_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
        words_with_freq,
    )
    from jobinsight_data_pipeline_spark.operators.wordpiece import (
        wordpiece_word_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    _um_cache: dict = {}

    def _um_model():
        if sf_dir not in _um_cache:
            _um_cache[sf_dir] = unigram_train(
                spark, words_with_freq(docs), rounds=3, seed_k=80, vocab_k=40
            )
        return _um_cache[sf_dir]

    def _wp_fertility():
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

    return {
        "exact_dedup": lambda: exact_dedup(docs, "doc_id", "text"),
        "ngram_jaccard (capped index join)": lambda: ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ),
        "minhash_lsh (banded)": lambda: minhash_lsh_pairs(
            docs, "doc_id", "text"
        ),
        "exact_spans (anchor chains, L=15)": lambda: exact_match_spans(
            docs, "doc_id", "text", k=8, min_len=15
        ),
        "unigram_encode (word-table DP)": lambda: unigram_encode(
            spark, docs, _um_model()
        ),
        "wordpiece_fertility (derive+encode)": _wp_fertility,
        "corpus_build (12-stage chain, cold)": (
            lambda: _corpus_build_prep(spark, sf_dir),
            lambda: q_corpus_build(spark, sf_dir),
        ),
    }


def main() -> None:
    spark = get_spark(app_name="docs-tier-probe")
    ensure_fixture(spark)
    for d in (SF01, TIER):
        n = spark.read.parquet(f"{d}/documents.parquet").count()
        print(f"docs at {d}: {n}", file=sys.stderr)

    names = list(probes(spark, SF01))
    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for label, sf_dir in (("sf0.1", SF01), ("tier", TIER)):
        p = probes(spark, sf_dir)
        for name, thunk in p.items():
            # a (prepare, thunk) pair runs prepare untimed before each run
            prepare, thunk = thunk if isinstance(thunk, tuple) else (None, thunk)
            best = float("inf")
            for _ in range(2):
                if prepare is not None:
                    prepare()
                t0 = time.time()
                materialize(thunk())
                best = min(best, time.time() - t0)
            results[name][label] = round(best, 2)

    print("| operator | sf0.1 (5k docs) | tier (50k docs) | wall x at 10x docs (100x vs baseline) |")
    print("|---|---|---|---|")
    for name in names:
        r = results[name]
        ratio = round(r["tier"] / max(r["sf0.1"], 0.01), 1)
        print(f"| {name} | {r['sf0.1']}s | {r['tier']}s | {ratio}x |")


if __name__ == "__main__":
    main()
