#!/usr/bin/env python
"""Benchmark the headline catalog queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "cold_queries": {name: sec, ...},
   "scaled_queries": {name@xM: sec, ...}, "sf": ...}

Each query is fully materialized through the noop sink (no driver-side
collect, no result-size bias). Session startup is excluded from per-query
times; a separate "startup_sec" field reports it.

Round-over-round comparability (round-2 lesson: a 1.3× uniform drift on
untouched queries was unattributable): each query runs TWICE and the best
time is reported (ambient-load spikes hit one run, rarely both), and the
JSON carries `loadavg` (1/5/15-min, captured before and after) so a loaded
machine is visible in the artifact instead of guessed at later. Run 1
follows a `release` of the session memo, so it rebuilds every memoized
gate state and is also reported alone as the cold time; run 2 may reuse
that state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jobinsight_data_pipeline_spark.catalog import build_catalog, release
from jobinsight_data_pipeline_spark.operators.components import free_pins
from jobinsight_data_pipeline_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from jobinsight_data_pipeline_spark.operators.similarity import lsh_cosine_topk
from jobinsight_data_pipeline_spark.session import get_spark

# the scale-representative subset: joins/aggs/windows, parsing projections,
# dedup (exact + LSH + capped-jaccard), similarity (exact + LSH)
HEADLINE = [
    "star_revenue",
    "monthly_orders",
    "top10_customers",
    "dedup_keepmin",
    "scd2_rebuild",
    "sessionize",
    "asof_discount",
    "windowed_events",
    "event_percentiles",
    "salary_parse",
    "location_parse",
    "date_fanout",
    "exact_dedup",
    "text_stats",
    "embedding_topk",
    # Phase-3-equivalent work, directly comparable to the reference's
    # staging→DWH baseline (51 rec/s per-row loop — BASELINE.md): full
    # SCD2 dims + 5-day fan-out + grain merge over every order row.
    "warehouse_rollup",
    "fact_merge",
    # round-6 additions: banded range join (100x lineitem growth path),
    # no-global-sort decile ranking, scan-fused language id, hypertable
    # cascade + gap-fill resampling, theta-sketch set-overlap audit
    "interval_orders",
    "quality_deciles",
    "language_id",
    "hypertable_rollup",
    "resample_grid",
    "sketch_overlap",
    # round-6 session-3 additions: event-stream funnels + retention
    # triangle, count-min token sketch + heavy-hitter audit, RRF hybrid
    # retrieval (BM25 + cosine), int8 scalar-quantized retrieval
    "funnel_steps",
    "cohort_retention",
    "cms_heavy_hitters",
    "hybrid_search",
    "sq8_search",
    # session-3 second wave: as-of attribution, struct-argmin candles,
    # LPA communities (iterative), grouped hist-CDF normalization
    "attribution",
    "ohlc_bars",
    "label_prop",
    "quantile_normalize",
    # round-7: windowed re-entry funnel (frontier keyed on (user, anchor)),
    # in-engine temperature mixing, per-pack attention-span manifests
    "funnel_reanchor",
    "temperature_mixture",
    "pack_boundaries",
    "epoch_plan",
]


def materialize(df) -> None:
    """Run ``df`` to completion through the noop sink, then free the
    per-invocation checkpoints its operator pinned (``register_pins``):
    every timed run would otherwise leave them stored until exit."""
    df.write.format("noop").mode("overwrite").save()
    free_pins(df)


def replicate(docs, emb, m: int):
    """The ``m``-times scale tier of ``docs`` and ``emb``: replica ``r``
    of a row takes the id ``id * m + r``, and every whitespace-delimited
    token of its text gains the suffix ``~r``. Shingling splits on
    whitespace and keeps ``~`` and digits, so each replica has the base
    corpus's duplicate structure and no replica shares a shingle with
    another: the tier holds ``m`` times the base pairs, not ``m - 1``
    near-copies of every document. Embedding replicas are exact copies
    (the vector chains timed on them are per-row or per-cell sums)."""
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.textstats import tokens

    reps = docs.sparkSession.range(m).select(F.col("id").alias("_rep"))
    suffix = F.concat(F.lit("~"), F.col("_rep").cast("string"))
    text = F.array_join(
        F.transform(
            F.filter(tokens("text"), lambda w: w != ""),
            lambda w: F.concat(w, suffix),
        ),
        " ",
    )
    docs_m = docs.crossJoin(reps).select(
        (F.col("doc_id") * m + F.col("_rep")).alias("doc_id"),
        text.alias("text"),
        "source",
    )
    emb_m = emb.crossJoin(reps).select(
        (F.col("vec_id") * m + F.col("_rep")).alias("vec_id"), "embedding"
    )
    return docs_m, emb_m


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    t0 = time.time()
    spark = get_spark(app_name="jobinsight-bench")
    startup = time.time() - t0

    queries, _ = build_catalog()

    # warm-up: file-index + parquet footers + first codegen compile, so
    # per-query numbers reflect steady-state compute (reported separately)
    t0 = time.time()
    from jobinsight_data_pipeline_spark.catalog import TABLES, load

    for t in TABLES:
        load(spark, sf_dir, t)[t].count()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # r12 measurement fix (guide §1): the old warmup compiled only a
    # trivial sum, so whichever query ran FIRST absorbed the JVM's cold
    # JIT/codegen for the common operator classes — star_revenue (first
    # in HEADLINE) measured 3.67 s first-in-run vs 1.45 s mid-run with
    # an identical plan across two clean boxes. Warm the shared shapes
    # once on SYNTHETIC data (spark.range only — nothing derived from
    # the test tables is computed or kept): broadcast + sort-merge
    # joins, partial/distinct aggregation, a ranking window, and an
    # interpreted array-HOF fold. Still reported in warmup_sec.
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.window import Window as _Window

    _wa = spark.range(200_000).selectExpr(
        "id", "id % 97 AS k", "CAST(id AS DOUBLE) / 7 AS x",
        "array_repeat(CAST(id AS DOUBLE), 8) AS v",
    )
    _wb = spark.range(97).selectExpr("id AS k", "id * 2 AS y")
    (
        _wa.join(_wb, "k")
        .groupBy("k")
        .agg(
            F.sum("x").alias("sx"),
            F.countDistinct("id").alias("cd"),
            F.sum(
                F.expr("aggregate(v, 0.0D, (acc, e) -> acc + e)")
            ).alias("hof"),
        )
        .write.format("noop").mode("overwrite").save()
    )
    (
        _wa.join(_wb.hint("merge"), "k")
        .select(
            "k", "x",
            F.row_number()
            .over(_Window.partitionBy("k").orderBy("x"))
            .alias("rn"),
        )
        .filter("rn <= 3")
        .write.format("noop").mode("overwrite").save()
    )
    warmup = time.time() - t0

    load_before = os.getloadavg()
    arbitrations: list[int] = []

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        """Best of two runs into ``timings[name]``, the first run alone
        into ``cold[name]``. The session memo is released first, so run 1
        rebuilds every memoized gate state (warehouses, fitted models,
        state built on disk) and run 2 may reuse it. When the two runs disagree by >15% (an
        ambient-load spike hit one of them, or run 2 reused a build), a
        third run arbitrates — r4's +15% drift on unchanged code was
        pure machine noise; this bounds it without tripling every
        query's cost."""
        release(spark)
        times = []
        for _ in range(2):
            t0 = time.time()
            fn()
            times.append(time.time() - t0)
        # relative spread gate + absolute floor: sub-second queries show
        # >15% JIT/GC jitter constantly — only arbitrate when the gap is
        # also big enough to matter in the total
        if max(times) > 1.15 * min(times) and max(times) - min(times) > 0.2:
            arbitrations.append(1)
            t0 = time.time()
            fn()
            times.append(time.time() - t0)
        cold[name] = round(times[0], 3)
        timings[name] = round(min(times), 3)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for name in HEADLINE:
        timed(name, lambda: materialize(queries[name](spark, sf_dir)))

    # dedup operators benched directly at production settings (their gate
    # queries now bundle exact twins / md5 hashing for oracle checking —
    # correct for the gate, not what the scale path runs): exact n-gram
    # jaccard, xxhash64 minhash-LSH, xxhash64 64-bit simhash
    timed(
        "ngram_jaccard",
        lambda: materialize(
            ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
        ),
    )
    timed("minhash_lsh", lambda: materialize(minhash_lsh_pairs(docs, "doc_id", "text")))
    timed(
        "simhash_pairs",
        lambda: materialize(
            simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)
        ),
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_queries = emb.filter("vec_id < 20")
    timed(
        "embedding_lsh_topk",
        lambda: materialize(lsh_cosine_topk(emb, emb_queries, k=5)),
    )

    # round-4 training-data operators, production settings: ExactSubstr
    # span detection, SemDeDup (seeded-KMeans fit path), PII scrub,
    # deterministic shuffle-and-shard (sizing job included in the time)
    from jobinsight_data_pipeline_spark.operators.dedup import duplicate_spans
    from jobinsight_data_pipeline_spark.operators.packing import shuffle_shard
    from jobinsight_data_pipeline_spark.operators.similarity import semantic_dedup
    from jobinsight_data_pipeline_spark.operators.textstats import redact_pii

    timed(
        "duplicate_spans",
        lambda: materialize(duplicate_spans(docs, "doc_id", "text", n=8)),
    )
    timed(
        "semantic_dedup",
        lambda: materialize(semantic_dedup(emb, threshold=0.4, n_clusters=16)),
    )
    timed("pii_scrub", lambda: materialize(redact_pii(docs, "text")))
    timed(
        "shuffle_shard",
        lambda: materialize(shuffle_shard(docs.select("doc_id"), "doc_id", 256)),
    )

    # round-5 operators, production settings: BM25 corpus slicing
    # (scan-fused fixed-query form), corpus-wide paragraph dedup (the
    # synthetic docs are single-line, so this times the explode/hash/agg
    # machinery), MOSS-style fingerprint-overlap candidate pairs
    from jobinsight_data_pipeline_spark.operators.dedup import (
        winnow_overlap_pairs,
    )
    from jobinsight_data_pipeline_spark.operators.ranking import bm25_topk
    from jobinsight_data_pipeline_spark.operators.textstats import (
        bigram_logprob,
        dedup_paragraphs,
    )

    timed(
        "bm25_topk",
        lambda: materialize(
            bm25_topk(docs, ["spark", "vector", "customer"], k=100)
        ),
    )
    timed(
        "paragraph_dedup",
        lambda: materialize(dedup_paragraphs(docs, mode="keep_first")),
    )
    timed("bigram_lm", lambda: materialize(bigram_logprob(docs, "doc_id")))
    timed(
        "winnow_overlap",
        lambda: materialize(
            winnow_overlap_pairs(docs, "doc_id", "text", k=5, window=4, min_shared=2)
        ),
    )

    # PQ family, production settings: encode the corpus, then the
    # IVF-PQ build/serve duality — build = one corpus scan (cell assign +
    # PQ codes) WRITTEN partitioned by cell (the persist is the point);
    # serve = partition-pruned probe-cell read + ADC rank against the
    # persisted index, the number that matters in a serve loop
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_indexed,
        pq_codebooks,
        pq_encode,
        unit_centroids,
    )

    # the sf0.1 embeddings parquet is ONE file / one row group; pq_encode
    # and build_ivf_pq_index widen their own scan (a no-op at real corpus
    # layouts), so the CPU-dense encode chains parallelize here. Serve
    # entries keep reading the persisted partitioned index.
    cb = pq_codebooks()
    timed("pq_encode", lambda: materialize(pq_encode(emb, cb)))
    from jobinsight_data_pipeline_spark.operators.components import (
        pagerank_quantized,
    )

    pr_edges = docs.selectExpr(
        "doc_id AS src", "(doc_id * 3 + 1) % 97 AS dst"
    ).unionAll(docs.selectExpr("doc_id AS src", "(doc_id * 7 + 2) % 97 AS dst"))
    timed("pagerank", lambda: materialize(pagerank_quantized(pr_edges, iterations=5)))
    # round-6: degree-oriented triangle counting on a 10k-node graph
    # (denser than the gate's 101-node fixture — times the wedge join)
    from jobinsight_data_pipeline_spark.operators.components import (
        triangle_counts,
    )

    tri_edges = docs.selectExpr(
        "doc_id % 10007 AS src", "(doc_id * 31 + 17) % 10007 AS dst"
    ).unionAll(
        docs.selectExpr(
            "(doc_id * 7 + 3) % 10007 AS src", "(doc_id * 13 + 5) % 10007 AS dst"
        )
    )
    timed("triangle_count", lambda: materialize(triangle_counts(tri_edges)))
    # round-6: subword BPE encode (native replace-chain, scan-fused) and
    # the composed tokenize-and-fill-budget chain — classifier scores +
    # BPE ids materialized once (the write is part of the honest cost,
    # fresh per run), budget cut, fixed-256 packing
    import shutil
    import tempfile

    from jobinsight_data_pipeline_spark.catalog.textml import (
        CLF_BIAS,
        CLF_WEIGHTS,
    )
    from jobinsight_data_pipeline_spark.operators.bpe import bpe_encode
    from jobinsight_data_pipeline_spark.operators.packing import (
        materialize_packs,
    )
    from jobinsight_data_pipeline_spark.operators.parallelism import (
        widen_for_cpu,
    )
    from jobinsight_data_pipeline_spark.operators.sampling import (
        select_until_budget,
    )

    # bpe_encode and bpe_encode_memoized widen their own input
    timed("bpe_encode", lambda: materialize(bpe_encode(docs)))
    # round-7: the vocab-scale memoized encode (distinct-word table +
    # rank-loop pandas UDF + join-back) at the same 55-merge table —
    # slower here than the direct chain (tiny corpus vocabulary), FLAT
    # in merge-table size where the direct chain dies at 4k merges
    # (SCALING.md round-7 A/B)
    from jobinsight_data_pipeline_spark.operators.bpe import (
        bpe_encode_memoized,
    )

    timed(
        "bpe_memoized",
        lambda: materialize(
            bpe_encode_memoized(docs, word_encoder="python")
        ),
    )

    # round-6: day-2 incremental dedup at production settings (xxhash64):
    # first half of the corpus is the persisted history, second half the
    # incoming batch — state build included in the time (the day-1 cost
    # amortizes in production; here it keeps the number honest)
    from jobinsight_data_pipeline_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup,
    )

    timed(
        "incremental_dedup",
        lambda: materialize(
            incremental_dedup(
                docs.filter("doc_id % 2 = 1"),
                build_dedup_state(docs.filter("doc_id % 2 = 0")),
            )
        ),
    )

    # embedding twin: day-2 SemDeDup against the persisted cell state
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_semantic_state,
        incremental_semantic_dedup,
        unit_centroids,
    )

    emb2 = emb.select("vec_id", "embedding")
    timed(
        "incremental_semantic_dedup",
        lambda: materialize(
            incremental_semantic_dedup(
                emb2.filter("vec_id % 2 = 1"),
                build_semantic_state(
                    emb2.filter("vec_id % 2 = 0"),
                    unit_centroids(64, 16, seed=11),
                ),
                unit_centroids(64, 16, seed=11),
                threshold=0.4,
            )
        ),
    )

    def _bpe_chain() -> None:
        from jobinsight_data_pipeline_spark.operators.bpe import (
            bpe_ids_column,
        )
        from jobinsight_data_pipeline_spark.operators.classifier import (
            hashed_linear_score,
        )

        d = tempfile.mkdtemp(prefix="bench_bpe_")
        try:
            # encode + score in ONE scan-fused projection (both are
            # per-row expressions over text): the former
            # encode.join(scored) shape scanned the corpus twice and
            # paid a join to reunite per-row columns (r12; identical
            # rows — unique doc_id key)
            # the chain builds its own Column kernel, so it widens here
            _ids = bpe_ids_column("text")
            widen_for_cpu(docs).select(
                F.col("doc_id"),
                _ids.alias("ids"),
                F.size(_ids).alias("n_ids"),
                hashed_linear_score("text", CLF_WEIGHTS, CLF_BIAS).alias(
                    "score_micro"
                ),
            ).write.parquet(d + "/cand")
            cand = spark.read.parquet(d + "/cand")
            kept = select_until_budget(
                cand, "score_micro", "n_ids", 30_000, ["doc_id"]
            ).select("doc_id", "ids")
            materialize(
                materialize_packs(
                    kept, capacity=256, bounds=[100, 200, 300, 400]
                )
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)

    timed("bpe_budget_packs", _bpe_chain)

    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    cents = unit_centroids(64, 16, seed=11)

    with tempfile.TemporaryDirectory(prefix="bench_ivfpq_") as idx_root:
        idx_path = os.path.join(idx_root, "idx")

        def _build():
            # encode (widens its own scan), then shuffle the narrow
            # (id, cell, codes) rows to the cell grain before the
            # partitioned write: without it every task writes a file
            # per cell it touches (measured 494 files; 16 after — and
            # the compacted layout serves ~1.7x faster too). Guide §6.
            build_ivf_pq_index(emb, cents, cb).repartition(
                "cell"
            ).write.mode("overwrite").partitionBy("cell").parquet(idx_path)

        timed("ivf_pq_build", _build)
        index = spark.read.parquet(idx_path)
        timed(
            "ivf_pq_serve",
            lambda: materialize(
                ivf_pq_topk_indexed(index, qvec, cents, cb, k=10, n_probe=4)
            ),
        )
        # batched serving: 20 queries in ONE distributed job
        from jobinsight_data_pipeline_spark.operators.similarity import (
            ivf_pq_topk_many,
        )

        qbatch = emb.filter("vec_id < 20").selectExpr(
            "vec_id AS query_id", "embedding"
        )
        timed(
            "ivf_pq_serve_many",
            lambda: materialize(
                ivf_pq_topk_many(index, qbatch, cents, cb, k=10, n_probe=4)
            ),
        )

    # round-7: batched SQ8 serving against a persisted code table (the
    # ivf_pq_serve_many twin): build once, 20 queries in one job
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_sq8_index,
        sq8_topk_indexed,
    )

    with tempfile.TemporaryDirectory(prefix="bench_sq8_") as sq8_root:
        codes_path = os.path.join(sq8_root, "codes")
        stats_path = os.path.join(sq8_root, "stats")

        def _sq8_build():
            codes, stats = build_sq8_index(emb)
            codes.write.mode("overwrite").parquet(codes_path)
            stats.write.mode("overwrite").parquet(stats_path)

        timed("sq8_build", _sq8_build)
        sq8_codes = spark.read.parquet(codes_path)
        sq8_stats = spark.read.parquet(stats_path)
        qbatch20 = emb.filter("vec_id < 20").select("vec_id", "embedding")
        timed(
            "sq8_serve_many",
            lambda: materialize(
                sq8_topk_indexed(sq8_codes, sq8_stats, qbatch20, k=10)
            ),
        )

    # distributed quantized k-means: the full MLlib-shaped Lloyd's fit
    # (4 rounds of scan-fused assign + one-shuffle update over the whole
    # embeddings table) plus the final zero-shuffle assignment pass
    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_quantized,
    )

    def _kmeans() -> None:
        model = kmeans_fit_quantized(emb, k=8, iterations=4)
        materialize(kmeans_assign(emb, model))

    timed("kmeans_fit", _kmeans)

    # round-9: suffix-array-equivalent aligned duplicate-substring pairs
    # (anchor seed + diagonal chaining), and unigram-LM Viterbi encode
    # under a corpus-trained piece model — the model trains ONCE outside
    # the timer (a tokenizer artifact amortizes over every corpus it
    # encodes); the timed path is the per-corpus encode serve
    from jobinsight_data_pipeline_spark.operators.dedup import (
        exact_match_spans,
    )
    from jobinsight_data_pipeline_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
        words_with_freq,
    )

    timed(
        "exact_spans",
        lambda: materialize(
            exact_match_spans(docs, "doc_id", "text", k=8, min_len=15)
        ),
    )
    um_model = unigram_train(
        spark, words_with_freq(docs), rounds=3, seed_k=80, vocab_k=40
    )
    timed("unigram_encode", lambda: materialize(unigram_encode(spark, docs, um_model)))

    # round-9 session-2 additions: DSIR hashed-ngram selection, exact
    # integer EWMA, WordPiece corpus fertility (vocab derive + distinct-
    # word encode + join-back), and PCA power iteration (Gram pass +
    # driver-side integer rounds + scan-fused projection — timed
    # end-to-end, no memoized model reuse)
    timed("dsir_select", lambda: materialize(queries["dsir_select"](spark, sf_dir)))
    timed("ewma_smooth", lambda: materialize(queries["ewma_smooth"](spark, sf_dir)))
    # direct operator path — the catalog gate memoizes the vocab per
    # session, which would let run 2 of timed() skip the derive collects
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.textstats import (
        tokens as _wp_tokens,
    )
    from jobinsight_data_pipeline_spark.operators.wordpiece import (
        wordpiece_word_table,
    )

    def _wp_fert() -> None:
        wt = wordpiece_word_table(spark, docs)
        toks = docs.select(
            "source",
            F.explode(F.transform(_wp_tokens("text"), F.lower)).alias("w"),
        ).where(F.col("w") != "")
        materialize(
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

    timed("wordpiece_fertility", _wp_fert)
    from jobinsight_data_pipeline_spark.operators.clustering import (
        gram_matrix,
        pca_project,
        power_iteration_int,
    )

    def _pca() -> None:
        g = gram_matrix(emb, "embedding", dim=64)
        eig = power_iteration_int(g, rounds=4)
        materialize(pca_project(emb.select("vec_id", "embedding"), eig))

    timed("pca_power", _pca)

    # trained-PQ: full per-subspace fit (one job per iteration, fused)
    from jobinsight_data_pipeline_spark.operators.clustering import (
        train_pq_codebooks_quantized,
    )

    timed(
        "pq_trained",
        lambda: train_pq_codebooks_quantized(
            emb, "embedding", "vec_id", m=4, k=4, iterations=2, dim=64
        ),
    )

    # round-10: the k-means|| seed round + the same 4-iteration fit —
    # direct operator path (the catalog gate memoizes the model per
    # session, which would let run 2 of timed() skip the fit).
    # round-12 optimization: seeds + fit now share ONE checkpointed
    # quantize pass (kmeans_pp_fit_quantized) — bit-identical model,
    # one prepare pass (scan + quantize HOF + widen shuffle) cheaper
    # than the previous kmeans_fit_quantized(init_centroids=
    # kmeans_pp_seeds(...)) composition this entry timed before.
    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_pp_fit_quantized,
    )

    timed(
        "kmeans_pp_fit",
        lambda: kmeans_pp_fit_quantized(
            emb, "embedding", "vec_id", k=8, iterations=4
        ),
    )

    # round-10: HLL cardinality state over the 600k-row orderkey
    # stream, and the 3-query retrieval-metrics eval loop
    from jobinsight_data_pipeline_spark.operators.sketches import (
        hll_registers,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    timed("hll_registers", lambda: materialize(hll_registers(li, "l_orderkey")))
    timed(
        "retrieval_eval",
        lambda: materialize(queries["retrieval_eval"](spark, sf_dir)),
    )

    # round-11: the IVFADC residual route (build residual index + 20
    # queries served in one job — the raw-route ivf_pq_serve_many's
    # head-to-head), the engine-side HLL estimate over the same
    # orderkey stream as hll_registers, and the residual-vs-raw
    # quantization-error audit (the coarse-quantizer fit memoizes per
    # session like the catalog gate; the number reported is the
    # two-scan error pass)
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_ivf_pq_index as _biv,
        ivf_pq_topk_many as _many,
        pq_codebooks as _pqcb,
        unit_centroids as _ucents,
    )

    _rcents = _ucents(64, 16, seed=11)
    _rcb = _pqcb(dim=64, m=8, k=16, seed=5)

    timed(
        "ivf_pq_residual_serve",
        lambda: materialize(
            _many(
                _biv(emb, _rcents, _rcb, residual=True),
                emb.filter("vec_id < 20").selectExpr(
                    "vec_id AS query_id", "embedding"
                ),
                _rcents, _rcb, k=10, n_probe=4, residual=True,
            )
        ),
    )

    from jobinsight_data_pipeline_spark.operators.sketches import (
        hll_estimate_micro,
    )

    timed(
        "hll_estimate",
        lambda: materialize(
            hll_estimate_micro(hll_registers(li, "l_orderkey"))
        ),
    )
    timed(
        "pq_residual_error",
        lambda: materialize(queries["pq_residual_error"](spark, sf_dir)),
    )

    # round-11: example construction (zero-shuffle FIM projection; span
    # corruption's explode → shared doc-key exchange → re-assembly)
    from jobinsight_data_pipeline_spark.operators.examples import (
        fim_transform,
        span_corrupt,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed("fim_transform", lambda: materialize(fim_transform(docs)))
    timed("span_corrupt", lambda: materialize(span_corrupt(docs)))

    # round-12: residual-books training (the third leg of the FAISS
    # IVFADC recipe — direct operator path, fresh fit per run, no
    # memoized cache), and the mergeable-quantile histogram (state
    # build + extraction: one partial-agg shuffle + a model-sized
    # window cumsum)
    from jobinsight_data_pipeline_spark.operators.clustering import (
        train_pq_codebooks_residual,
    )

    timed(
        "pq_residual_train",
        lambda: train_pq_codebooks_residual(
            emb, _rcents, m=8, k=16, iterations=2, dim=64
        ),
    )
    timed(
        "hist_quantiles",
        lambda: materialize(queries["hist_quantiles"](spark, sf_dir)),
    )

    # Opt-in scaling tier (r13, additive): $SPARK_GRAFT_SCALE_MULT >= 2
    # re-times the CPU-parallel chains on an m-times-replicated input
    # (`replicate`: per-replica token suffixes, so dedup candidate
    # structure scales with m) as "<name>@x<m>" entries under their own
    # "scaled_queries" key, left out of "value". sf0.1 is fixed-overhead
    # bound for most entries (56/79 ran as fast at 8 cores as 32 in
    # r12), so structural wins on these chains are invisible in the
    # headline numbers; this tier makes the low-vs-high core ratio move
    # without touching the default entries.
    mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "0") or 0)
    scaled: dict[str, float] = {}
    if mult >= 2:
        docs_m, emb_m = replicate(docs, emb, mult)
        timed(
            f"simhash_pairs@x{mult}",
            lambda: materialize(
                simhash_near_pairs(docs_m, "doc_id", "text", max_hamming=3)
            ),
        )
        timed(
            f"ngram_jaccard@x{mult}",
            lambda: materialize(
                ngram_jaccard_pairs(docs_m, "doc_id", "text", threshold=0.5)
            ),
        )
        timed(f"bpe_encode@x{mult}", lambda: materialize(bpe_encode(docs_m)))
        timed(f"pq_encode@x{mult}", lambda: materialize(pq_encode(emb_m, cb)))
        timed(
            f"kmeans_fit@x{mult}",
            lambda: kmeans_fit_quantized(emb_m, k=8, iterations=4),
        )
        timed(
            f"incremental_dedup@x{mult}",
            lambda: materialize(
                incremental_dedup(
                    docs_m.filter("doc_id % 2 = 1"),
                    build_dedup_state(docs_m.filter("doc_id % 2 = 0")),
                )
            ),
        )
        scaled = {k: timings.pop(k) for k in list(timings) if "@x" in k}

    total = round(sum(timings.values()), 3)
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "cold_queries": cold,
            "scaled_queries": scaled,
            "sf": float(sf),
            "startup_sec": round(startup, 3),
            "warmup_sec": round(warmup, 3),
            "runs_per_query": 2,
            "arbitration_runs": len(arbitrations),
            "loadavg": [round(v, 2) for v in load_before],
            "loadavg_after": [round(v, 2) for v in os.getloadavg()],
        }
    )
    print(line)
    # artifact hygiene (r13): the driver captures stdout, and a truncated
    # capture once nulled an entire round-over-round comparison — keep a
    # readable copy of the same line next to the script
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "bench_out.json"
            ),
            "w",
        ) as fh:
            fh.write(line + "\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
