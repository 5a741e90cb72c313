#!/usr/bin/env python
"""Measure operator wall time across the three testdata scale factors
(sf0.001 → sf0.01 → sf0.1: 100x row growth on the relational tables,
10x on documents/embeddings at sf0.1) and emit a markdown table.

The point is the SHAPE of each curve, not the absolute numbers: an
operator whose wall time grows far slower than its input (flat curve)
is fixed-overhead-bound at these sizes — the design headroom the 100 TB
posture claims. An operator growing FASTER than its input would flag a
super-linear plan (all-pairs leak, collapsing partition, driver
bottleneck) long before a cluster run would.

Rows that bench.py times with the same call come from its ``ENTRIES``
under bench's names; the rest are the probe's own entries in the same
shape (``entry(ctx)`` -> thunk). An entry may instead return a
``(prepare, thunk)`` pair whose ``prepare`` runs untimed before each run.

Usage: python scripts/scaling_probe.py [> SCALING.md section]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from bench import CB, CENTS, ENTRIES, Ctx, run, triangle_graph
from jobinsight_data_pipeline_spark.catalog import load, release
from jobinsight_data_pipeline_spark.catalog.relational import (
    q_local_supplier_volume,
)
from jobinsight_data_pipeline_spark.catalog.textml import (
    _learned_merges,
    q_corpus_build,
    q_dedup_recall_eval,
)
from jobinsight_data_pipeline_spark.operators.asof import interval_join
from jobinsight_data_pipeline_spark.operators.behavior import (
    cohort_retention,
    funnel_counts,
    last_touch_attribution,
    top_session_paths,
)
from jobinsight_data_pipeline_spark.operators.clustering import (
    kmeans_assign,
    kmeans_fit_quantized,
    kmeans_pp_seeds,
)
from jobinsight_data_pipeline_spark.operators.components import k_core
from jobinsight_data_pipeline_spark.operators.dedup import (
    editdist_verify,
    exact_dedup,
    sorted_neighborhood_pairs,
    source_overlap_matrix,
)
from jobinsight_data_pipeline_spark.operators.packing import shuffle_shard
from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu
from jobinsight_data_pipeline_spark.operators.profiling import iqr_outlier_fences
from jobinsight_data_pipeline_spark.operators.sampling import (
    dsir_select,
    mixture_sample,
    quantile_bins,
    quantile_normalize,
)
from jobinsight_data_pipeline_spark.operators.similarity import (
    build_ivf_pq_index,
    build_sq8_index,
    hard_negatives,
    ivf_pq_topk,
    ivf_pq_topk_many,
    lsh_cosine_near_pairs,
    mutual_knn_pairs,
    semantic_dedup,
    sq8_topk_indexed,
    sq8_topk_micro,
    unit_centroids,
)
from jobinsight_data_pipeline_spark.operators.sketches import cms_build
from jobinsight_data_pipeline_spark.operators.textstats import (
    token_pmi,
    with_c4_signals,
    with_language_id,
    with_text_stats,
)
from jobinsight_data_pipeline_spark.operators.timeseries import ewma_smooth
from jobinsight_data_pipeline_spark.operators.zorder import zorder_key_quantized
from jobinsight_data_pipeline_spark.session import get_spark

SFS = ["0.001", "0.01", "0.1"]
BASE = "/root/testdata/sf{}"


def _events(c: Ctx):
    return load(c.spark, c.sf_dir, "events")["events"]


def _sq8_serve(corpus, queries):
    codes, stats = build_sq8_index(corpus)
    return sq8_topk_indexed(codes, stats, queries, k=10)


def _ivf_pq_residual_4q(c: Ctx):
    idx = build_ivf_pq_index(c.embeddings, CENTS, CB, residual=True)
    qs = c.embeddings.filter("vec_id IN (0, 7, 23, 42)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    return ivf_pq_topk_many(idx, qs, CENTS, CB, k=10, n_probe=4, residual=True)


def _corpus_build_prep(spark, sf_dir) -> None:
    """Untimed reset before a cold corpus_build run: release the session
    memo so the 12-stage chain rebuilds, then re-memoize the learned-BPE
    merges it reads (the artifact amortizes, same posture as
    unigram_encode's pre-trained model)."""
    release(spark)
    _learned_merges(spark, sf_dir)


PROBES = {
    "star_revenue": ENTRIES["star_revenue"],
    "local_supplier_volume (6-way)": lambda c: lambda: q_local_supplier_volume(
        c.spark, c.sf_dir
    ),
    "exact_dedup": lambda c: lambda: exact_dedup(c.documents, "doc_id", "text"),
    "text_stats+c4 (projections)": lambda c: lambda: with_c4_signals(
        with_text_stats(c.documents), "text"
    ),
    "pii_scrub": ENTRIES["pii_scrub"],
    "ngram_jaccard": ENTRIES["ngram_jaccard"],
    "minhash_lsh": ENTRIES["minhash_lsh"],
    "duplicate_spans": ENTRIES["duplicate_spans"],
    "semantic_dedup (literal cells)": lambda c: lambda: semantic_dedup(
        c.embeddings, threshold=0.4, centroids=unit_centroids(64, 8, seed=11)
    ),
    "lsh_cosine_near_pairs": lambda c: lambda: lsh_cosine_near_pairs(
        c.embeddings, threshold=0.4
    ),
    "mixture+shard (assembly)": lambda c: lambda: shuffle_shard(
        mixture_sample(c.documents.select("doc_id", "source"), "source",
                       {"src0": 2.0}, "doc_id")
        .withColumn("skey", F.concat_ws(":", "doc_id", "copy")),
        "skey", 256,
    ),
    "bm25_topk": ENTRIES["bm25_topk"],
    "paragraph_dedup": ENTRIES["paragraph_dedup"],
    "bigram_lm": ENTRIES["bigram_lm"],
    "pq_encode": ENTRIES["pq_encode"],
    "pagerank": ENTRIES["pagerank"],
    "ivf_pq_topk (cells + ADC)": lambda c: lambda: ivf_pq_topk(
        c.embeddings,
        [float(x) for x in c.embeddings.filter("vec_id = 0").head()["embedding"]],
        CENTS,
        CB,
        k=10,
        n_probe=4,
    ),
    "bpe_encode": ENTRIES["bpe_encode"],
    "incremental_dedup": ENTRIES["incremental_dedup"],
    # the same fit+assign under the k-means‖ seed round (md5-order seed
    # 0 + one D²-weighted A-ES draw — two extra model-sized jobs before
    # Lloyd's); the fit's per-round collects run inside the thunk
    "kmeans_pp fit+assign (seed + 4 iter)": lambda c: lambda: kmeans_assign(
        c.embeddings,
        kmeans_fit_quantized(
            c.embeddings, k=8, iterations=4,
            init_centroids=kmeans_pp_seeds(c.embeddings, k=8),
        ),
    ),
    "kmeans_fit": ENTRIES["kmeans_fit"],
    "language_id (scan-fused)": lambda c: lambda: with_language_id(
        c.documents, "text"
    ),
    # banded range join: lineitem intervals grow 100x across the
    # probe's SF ladder — the shape that would nested-loop without
    # banding. Points are PER-DAY order aggregates and matches
    # aggregate per interval (the realistic range-join consumer) —
    # materializing the raw ~10^8-pair match set would time the
    # sink, not the join (measured 134 s of pure output at sf0.1)
    "interval_join (banded)": lambda c: lambda: interval_join(
        load(c.spark, c.sf_dir, "orders")["orders"].selectExpr(
            "CAST(datediff(o_orderdate, DATE '1970-01-01') AS LONG)"
            " AS p",
        ).groupBy("p").agg(F.count(F.lit(1)).alias("n")),
        load(c.spark, c.sf_dir, "lineitem")["lineitem"].selectExpr(
            "l_orderkey", "l_linenumber",
            "CAST(datediff(l_shipdate, DATE '1970-01-01') AS LONG)"
            " AS s",
        ).selectExpr("l_orderkey", "l_linenumber", "s", "s + 30 AS e"),
        "p", "s", "e", 32,
    ).groupBy("l_orderkey", "l_linenumber").agg(
        F.sum("n").alias("n_orders")
    ),
    "quantile_bins (hist-CDF rank)": lambda c: lambda: quantile_bins(
        c.documents.selectExpr("doc_id", "n_chars"), "n_chars", ["doc_id"]
    ),
    # degree-oriented triangles on the bench's 10k-node formula graph:
    # edge volume follows the doc count, wedge work is bounded by
    # oriented out-degrees
    "triangle_count": ENTRIES["triangle_count"],
    # peel loop over the same graph at k=3 — rounds are the degeneracy
    # depth, each a degree agg + two semi-joins
    "k_core (peel loop, k=3)": lambda c: lambda: k_core(
        triangle_graph(c.documents), 3
    ),
    # rank + banded interval join; candidate volume is exactly N*w
    "snm_blocking (w=5)": lambda c: lambda: sorted_neighborhood_pairs(
        c.documents.select("doc_id", "n_chars"), "doc_id", "n_chars", window=5
    ),
    # events grow 100x across the ladder; the funnel is two
    # user-key partial-agg + join rounds on the reduced frontier
    "funnel (3 steps, 72h window)": lambda c: lambda: funnel_counts(
        _events(c), ["view", "click", "purchase"], within_hours=72
    ),
    "cohort_retention (weekly)": lambda c: lambda: cohort_retention(_events(c)),
    # the sketch is the 100-TB path: tasks emit <= depth*width rows
    # regardless of token volume
    "cms_build (4x1024 token sketch)": lambda c: lambda: cms_build(
        widen_for_cpu(c.documents)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .where(F.col("token") != ""),
        "token",
        depth=4,
        width=1024,
    ),
    # one corpus scan: stats agg + quantize + per-term micro fold
    "sq8_topk (int8 asymmetric)": lambda c: lambda: sq8_topk_micro(
        c.embeddings, c.embeddings.filter("vec_id = 11"), k=10
    ),
    "hard_negatives (8 queries)": lambda c: lambda: hard_negatives(
        c.embeddings, c.embeddings.filter("vec_id < 8"), k_neg=5, exclude_sim=0.35
    ),
    # verify stage over blocked candidates: pair volume follows the
    # doc count (N/5 planted pairs), each an O(len^2) DP
    "editdist_verify (N/5 pairs)": lambda c: lambda: editdist_verify(
        c.documents.filter("doc_id % 10 = 0")
        .selectExpr("doc_id AS id_a", "doc_id + 1 AS id_b")
        .unionAll(
            c.documents.filter("doc_id % 10 = 5").selectExpr(
                "doc_id AS id_a", "doc_id + 2 AS id_b"
            )
        ),
        c.documents,
    ),
    # grouped hist-CDF rank: parallelism never collapses to the
    # source count the way a per-group global window would
    "quantile_normalize (per-source)": lambda c: lambda: quantile_normalize(
        c.documents.select("doc_id", "source", "n_chars"),
        "n_chars",
        ["source"],
        ["doc_id"],
    ),
    # guarded all-pairs baseline: score pass + rank window +
    # reversed-pair self-join (candidate volume n^2)
    "mutual_knn (k=3)": lambda c: lambda: mutual_knn_pairs(c.embeddings, k=3),
    # per-session assembly sorts inside the aggregate row; the
    # 30-min sessionize window feeds it (events grow 100x)
    "top_paths (sessions, 5 steps)": lambda c: lambda: top_session_paths(
        _events(c).selectExpr(
            "CAST(user_id AS STRING) AS sid", "ts", "event_type", "event_id",
        ),
        "sid",
    ),
    "outlier_fences (per-type IQR)": lambda c: lambda: iqr_outlier_fences(
        _events(c).selectExpr(
            "event_type", "event_id",
            "CAST(floor(value * 10000.0) AS LONG) AS cents",
        ),
        "cents",
        ["event_type"],
        ["event_id"],
    ),
    "attribution (as-of last touch)": lambda c: lambda: last_touch_attribution(
        _events(c), "purchase", ["view", "click"]
    ),
    "bpe_memoized": ENTRIES["bpe_memoized"],
    # round-7: windowed re-entry funnel — frontier keys on
    # (user, anchor), so the curve tracks step-1 event volume
    "funnel_reanchor (12h, all anchors)": lambda c: lambda: funnel_counts(
        _events(c), ["view", "click", "purchase"], within_hours=12, anchor="all",
    ),
    # round-7: batched SQ8 serve (build inside the thunk — honest
    # one-shot cost; the gate memoizes the build)
    "sq8_serve_many (4 queries)": lambda c: lambda: _sq8_serve(
        c.embeddings, c.embeddings.filter("vec_id IN (0, 7, 23, 42)")
    ),
    # round-9: aligned duplicate-substring pairs — seed volume is
    # DUPLICATED anchors only, so the curve tracks the corpus's
    # duplication rate, not its size
    "exact_spans": ENTRIES["exact_spans"],
    # round-9: unigram-LM Viterbi encode under a pre-trained model
    # (the artifact amortizes; training is driver-round-bound like
    # learn_bpe_merges and measured via the gate)
    "unigram_encode": ENTRIES["unigram_encode"],
    # round-9 session-2: DSIR hashed-ngram selection (widened feature
    # explode, bucket table checkpointed once) and exact integer EWMA at
    # the operator level, then bench's WordPiece and PCA chains
    "dsir_select (512 bins, top-60)": lambda c: lambda: dsir_select(
        c.documents, "doc_id", "text",
        F.col("source").isin("src0", "src1"), buckets=512, top_n=60,
    ),
    "ewma_smooth (w=8, per-user)": lambda c: lambda: ewma_smooth(
        _events(c).selectExpr(
            "user_id", "event_id",
            "CAST(round(value * 100, 0) AS BIGINT) AS v_cents",
        ),
        ["user_id"], ["event_id"], "v_cents",
    ),
    "wordpiece_fertility": ENTRIES["wordpiece_fertility"],
    "pca_power": ENTRIES["pca_power"],
    "pq_trained": ENTRIES["pq_trained"],
    "collocations (PMI, floor 10)": lambda c: lambda: token_pmi(
        c.documents, "text", min_count=10, top_n=20
    ),
    # round-10: cross-source containment matrix (shingle sets
    # collapse to the source grain; self-join fan-out sources²)
    "source_overlap (3-gram matrix)": lambda c: lambda: source_overlap_matrix(
        load(c.spark, c.sf_dir, "documents")["documents"], "source", "text", n=3,
    ),
    # round-10: Morton-key layout build over 100×-growing orders
    # (one scan + 1-row stats broadcast + codegen'd bit math)
    "zorder_key (2 dims, 16 bits)": lambda c: lambda: zorder_key_quantized(
        load(c.spark, c.sf_dir, "orders")["orders"].selectExpr(
            "o_orderkey",
            "o_custkey",
            "CAST(datediff(CAST(o_orderdate AS DATE),"
            " DATE '1970-01-01') AS BIGINT) AS epoch_day",
        ),
        ["o_custkey", "epoch_day"],
        bits=16,
    ),
    # round-10: HLL register build over the 100×-growing orderkey
    # stream (map-side partial max → ≤64 rows per task at any size),
    # and three single-term BM25 rankings + qrels + metrics
    "hll_registers": ENTRIES["hll_registers"],
    "retrieval_eval": ENTRIES["retrieval_eval"],
    # round-11: the IVFADC residual route (build + 4-query serve in
    # one plan), FIM/span-corruption example construction, and the
    # portable-MinHash dedup-quality eval (truth self-join + banded
    # candidates + metrics)
    "ivf_pq_residual (build+serve 4q)": lambda c: lambda: _ivf_pq_residual_4q(c),
    "fim_transform": ENTRIES["fim_transform"],
    "span_corrupt": ENTRIES["span_corrupt"],
    "dedup_recall_eval (truth+LSH+metrics)": lambda c: lambda: q_dedup_recall_eval(
        c.spark, c.sf_dir
    ),
    # round-10: the composed 12-stage capstone, COLD — both probe
    # runs rebuild the whole chain (min-of-2 would otherwise time
    # the memoized re-read); see _corpus_build_prep.
    "corpus_build (12-stage chain, cold)": lambda c: (
        lambda: _corpus_build_prep(c.spark, c.sf_dir),
        lambda: q_corpus_build(c.spark, c.sf_dir),
    ),
}


def timed_run(probe) -> float:
    """Wall seconds of one run of ``probe``: a thunk, or a
    ``(prepare, thunk)`` pair whose ``prepare`` runs untimed first."""
    prepare, thunk = probe if isinstance(probe, tuple) else (None, probe)
    if prepare is not None:
        prepare()
    t0 = time.time()
    run(thunk)
    return time.time() - t0


def best_of_two(probe) -> float:
    return round(min(timed_run(probe) for _ in range(2)), 2)


def main() -> None:
    spark = get_spark(app_name="scaling-probe")
    # warm: file indexes + codegen
    for sf in SFS:
        for t in ("documents", "embeddings", "lineitem"):
            spark.read.parquet(BASE.format(sf) + f"/{t}.parquet").count()

    rows_at = {}
    for sf in SFS:
        rows_at[sf] = {
            "docs": spark.read.parquet(BASE.format(sf) + "/documents.parquet").count(),
            "lineitem": spark.read.parquet(BASE.format(sf) + "/lineitem.parquet").count(),
        }

    results: dict[str, dict[str, float]] = {n: {} for n in PROBES}
    for sf in SFS:
        ctx = Ctx(spark, BASE.format(sf))
        for name, entry in PROBES.items():
            results[name][sf] = best_of_two(entry(ctx))

    print("| operator | sf0.001 | sf0.01 | sf0.1 | wall x at max input x |")
    print("|---|---|---|---|---|")
    for name in PROBES:
        r = results[name]
        ratio = round(r["0.1"] / max(r["0.001"], 0.01), 1)
        print(
            f"| {name} | {r['0.001']}s | {r['0.01']}s | {r['0.1']}s | {ratio}x |"
        )
    print()
    print(
        f"rows: lineitem {rows_at['0.001']['lineitem']} -> "
        f"{rows_at['0.1']['lineitem']} (100x); documents "
        f"{rows_at['0.001']['docs']} -> {rows_at['0.1']['docs']}"
    )


if __name__ == "__main__":
    main()
