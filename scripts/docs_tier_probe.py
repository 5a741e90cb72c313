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

The probes are scaling_probe's entries of that family, run at sf0.1 and
the tier through its best-of-2 loop, so the ratio column is the marginal
10x-docs growth ON TOP of the existing SCALING.md curves.

Usage: python scripts/docs_tier_probe.py [> SCALING.md section]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import Ctx
from jobinsight_data_pipeline_spark.session import get_spark
from scaling_probe import PROBES, best_of_two

SF01 = "/root/testdata/sf0.1"
TIER = "/root/repo/.scaling-tier"
COPIES = 10
OFF = 1_000_000
VOCAB_K = 4096


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


# scaling_probe's entries for the text/dedup/tokenizer family
NAMES = [
    "exact_dedup",
    "ngram_jaccard",
    "minhash_lsh",
    "exact_spans",
    "unigram_encode",
    "wordpiece_fertility",
    "corpus_build (12-stage chain, cold)",
]


def main() -> None:
    spark = get_spark(app_name="docs-tier-probe")
    ensure_fixture(spark)
    for d in (SF01, TIER):
        n = spark.read.parquet(f"{d}/documents.parquet").count()
        print(f"docs at {d}: {n}", file=sys.stderr)

    results: dict[str, dict[str, float]] = {n: {} for n in NAMES}
    for label, sf_dir in (("sf0.1", SF01), ("tier", TIER)):
        ctx = Ctx(spark, sf_dir)
        for name in NAMES:
            results[name][label] = best_of_two(PROBES[name](ctx))

    print("| operator | sf0.1 (5k docs) | tier (50k docs) | wall x at 10x docs (100x vs baseline) |")
    print("|---|---|---|---|")
    for name in NAMES:
        r = results[name]
        ratio = round(r["tier"] / max(r["sf0.1"], 0.01), 1)
        print(f"| {name} | {r['sf0.1']}s | {r['tier']}s | {ratio}x |")


if __name__ == "__main__":
    main()
