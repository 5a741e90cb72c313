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

Usage: python scripts/scaling_probe.py [> SCALING.md section]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobinsight_data_pipeline_spark.session import get_spark

SFS = ["0.001", "0.01", "0.1"]
BASE = "/root/testdata/sf{}"


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probes(spark, sf_dir):
    """name -> thunk building the operator's frame at sf_dir (production
    settings, mirroring bench.py's direct-operator calls)."""
    import pyspark.sql.functions as F

    from jobinsight_data_pipeline_spark.catalog import load
    from jobinsight_data_pipeline_spark.operators.dedup import (
        duplicate_spans,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from jobinsight_data_pipeline_spark.operators.packing import shuffle_shard
    from jobinsight_data_pipeline_spark.operators.sampling import mixture_sample
    from jobinsight_data_pipeline_spark.operators.components import (
        k_core as _k_core,
        pagerank_quantized as _pagerank,
        triangle_counts as _triangle_counts,
    )
    from jobinsight_data_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs as _snm_pairs,
    )
    from jobinsight_data_pipeline_spark.operators.similarity import (
        ivf_pq_topk as _ivf_pq_topk,
        lsh_cosine_near_pairs,
        pq_codebooks as _pq_codebooks,
        pq_encode as _pq_encode,
        unit_centroids as _unit_centroids,
        semantic_dedup,
        unit_centroids,
    )
    from jobinsight_data_pipeline_spark.operators.ranking import (
        bm25_topk as _bm25_topk,
    )
    from jobinsight_data_pipeline_spark.operators.bpe import (
        bpe_encode as _bpe_encode,
        bpe_encode_memoized as _bpe_memoized,
    )
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_sq8_index as _build_sq8_index,
        sq8_topk_indexed as _sq8_topk_indexed,
    )

    def _sq8_serve(corpus, queries):
        codes, stats = _build_sq8_index(corpus)
        return _sq8_topk_indexed(codes, stats, queries, k=10)

    from jobinsight_data_pipeline_spark.operators.clustering import (
        gram_matrix as _gram,
        pca_project as _pca_project,
        power_iteration_int as _power_iter,
        train_pq_codebooks_quantized as _train_pq,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import (
        token_pmi as _token_pmi,
    )
    from jobinsight_data_pipeline_spark.operators.sampling import (
        dsir_select as _dsir_select,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import (
        tokens as _wp_tokens,
    )
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        ewma_smooth as _ewma_smooth,
    )
    from jobinsight_data_pipeline_spark.operators.wordpiece import (
        wordpiece_word_table,
    )

    def _wp_fertility(spark, corpus):
        wt = wordpiece_word_table(spark, corpus)
        toks = corpus.select(
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
    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_assign as _kmeans_assign,
        kmeans_fit_quantized as _kmeans_fit,
        kmeans_pp_seeds as _kmeans_pp_seeds,
    )
    from jobinsight_data_pipeline_spark.operators.sketches import (
        hll_registers as _hll_registers,
    )
    from jobinsight_data_pipeline_spark.operators.zorder import (
        zorder_key_quantized as _zorder_key_q,
    )
    from jobinsight_data_pipeline_spark.operators.dedup import (
        source_overlap_matrix as _source_overlap,
    )
    from jobinsight_data_pipeline_spark.catalog.textml import (
        q_corpus_build,
        q_retrieval_eval as _q_retrieval_eval,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import (
        with_language_id as _with_language_id,
    )
    from jobinsight_data_pipeline_spark.operators.asof import (
        interval_join as _interval_join,
    )
    from jobinsight_data_pipeline_spark.operators.sampling import (
        quantile_bins as _quantile_bins,
    )
    from jobinsight_data_pipeline_spark.operators.behavior import (
        cohort_retention as _cohort,
        funnel_counts as _funnel,
    )
    from jobinsight_data_pipeline_spark.operators.sketches import (
        cms_build as _cms_build,
    )
    from jobinsight_data_pipeline_spark.operators.similarity import (
        hard_negatives as _hard_negatives,
        sq8_topk_micro as _sq8_topk,
    )
    from jobinsight_data_pipeline_spark.operators.dedup import (
        editdist_verify as _editdist_verify,
    )
    from jobinsight_data_pipeline_spark.operators.sampling import (
        quantile_normalize as _quantile_normalize,
    )
    from jobinsight_data_pipeline_spark.operators.similarity import (
        mutual_knn_pairs as _mutual_knn,
    )
    from jobinsight_data_pipeline_spark.operators.behavior import (
        last_touch_attribution as _attribution,
        top_session_paths as _top_paths,
    )
    from jobinsight_data_pipeline_spark.operators.profiling import (
        iqr_outlier_fences as _iqr_fences,
    )
    from jobinsight_data_pipeline_spark.operators.dedup import (
        build_dedup_state as _build_dedup_state,
        incremental_dedup as _incremental_dedup,
    )
    from jobinsight_data_pipeline_spark.operators.parallelism import (
        widen_for_cpu as _widen,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import (
        bigram_logprob as _bigram_logprob,
        dedup_paragraphs as _dedup_paragraphs,
        redact_pii,
        with_c4_signals,
        with_text_stats,
    )
    from jobinsight_data_pipeline_spark.catalog.relational import (
        q_local_supplier_volume,
        q_star_revenue,
    )
    from jobinsight_data_pipeline_spark.operators.dedup import (
        exact_match_spans as _exact_match_spans,
    )
    from jobinsight_data_pipeline_spark.operators.unigram import (
        unigram_encode as _unigram_encode,
        unigram_train as _unigram_train,
        words_with_freq as _words_with_freq,
    )

    from jobinsight_data_pipeline_spark.operators.examples import (
        fim_transform as _fim_transform,
        span_corrupt as _span_corrupt,
    )
    from jobinsight_data_pipeline_spark.catalog.textml import (
        q_dedup_recall_eval as _q_dedup_recall,
    )

    def _ivf_pq_topk_many_res(spark, sf_dir):
        from jobinsight_data_pipeline_spark.operators.similarity import (
            build_ivf_pq_index,
            ivf_pq_topk_many,
            pq_codebooks,
            unit_centroids,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = unit_centroids(64, 16, seed=11)
        cb = pq_codebooks(dim=64, m=8, k=16, seed=5)
        idx = build_ivf_pq_index(e, cents, cb, residual=True)
        qs = e.filter("vec_id IN (0, 7, 23, 42)").selectExpr(
            "vec_id AS query_id", "embedding"
        )
        return ivf_pq_topk_many(
            idx, qs, cents, cb, k=10, n_probe=4, residual=True
        )

    _um_cache: dict = {}

    def _um_model():
        # one model per sf_dir, trained outside the timed thunk's loop
        # is not possible here (thunks are re-built per sf) — memoize
        # so the 3 timing reps pay training once
        if sf_dir not in _um_cache:
            _um_cache[sf_dir] = _unigram_train(
                spark, _words_with_freq(docs), rounds=3, seed_k=80, vocab_k=40
            )
        return _um_cache[sf_dir]

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return {
        "star_revenue (5-way join+agg)": lambda: q_star_revenue(spark, sf_dir),
        "local_supplier_volume (6-way)": lambda: q_local_supplier_volume(
            spark, sf_dir
        ),
        "exact_dedup": lambda: exact_dedup(docs, "doc_id", "text"),
        "text_stats+c4 (projections)": lambda: with_c4_signals(
            with_text_stats(docs), "text"
        ),
        "redact_pii": lambda: redact_pii(docs, "text"),
        "ngram_jaccard (capped index join)": lambda: ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ),
        "minhash_lsh (banded)": lambda: minhash_lsh_pairs(docs, "doc_id", "text"),
        "duplicate_spans (ExactSubstr)": lambda: duplicate_spans(
            docs, "doc_id", "text", n=8
        ),
        "semantic_dedup (literal cells)": lambda: semantic_dedup(
            emb, threshold=0.4, centroids=unit_centroids(64, 8, seed=11)
        ),
        "lsh_cosine_near_pairs": lambda: lsh_cosine_near_pairs(
            emb, threshold=0.4
        ),
        "mixture+shard (assembly)": lambda: shuffle_shard(
            mixture_sample(docs.select("doc_id", "source"), "source",
                           {"src0": 2.0}, "doc_id")
            .withColumn("skey", F.concat_ws(":", "doc_id", "copy")),
            "skey", 256,
        ),
        "bm25_topk (scan-fused)": lambda: _bm25_topk(
            docs, ["spark", "vector", "customer"], k=100
        ),
        "paragraph_dedup (keep_first)": lambda: _dedup_paragraphs(
            docs, mode="keep_first"
        ),
        "bigram_lm (integer-exact)": lambda: _bigram_logprob(docs, "doc_id"),
        "pq_encode (scan-fused)": lambda: _pq_encode(emb, _pq_codebooks()),
        "pagerank (5 iter, integer)": lambda: _pagerank(
            docs.selectExpr("doc_id AS src", "(doc_id * 3 + 1) % 97 AS dst")
            .unionAll(
                docs.selectExpr("doc_id AS src", "(doc_id * 7 + 2) % 97 AS dst")
            ),
            iterations=5,
        ),
        "ivf_pq_topk (cells + ADC)": lambda: _ivf_pq_topk(
            emb,
            [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]],
            _unit_centroids(64, 16, seed=11),
            _pq_codebooks(),
            k=10,
            n_probe=4,
        ),
        "bpe_encode (replace chain)": lambda: _bpe_encode(docs),
        "incremental_dedup (day-2 batch)": lambda: _incremental_dedup(
            docs.filter("doc_id % 2 = 1"),
            _build_dedup_state(docs.filter("doc_id % 2 = 0")),
        ),
        # the fit's per-round collects run inside the thunk — the timed
        # figure covers all 4 Lloyd rounds plus the final assignment
        # round-10: the same fit+assign under the k-means‖ seed round
        # (md5-order seed 0 + one D²-weighted A-ES draw — two extra
        # model-sized jobs before Lloyd's)
        "kmeans_pp fit+assign (seed + 4 iter)": lambda: _kmeans_assign(
            emb,
            _kmeans_fit(
                emb, k=8, iterations=4,
                init_centroids=_kmeans_pp_seeds(emb, k=8),
            ),
        ),
        "kmeans fit+assign (4 iter, integer)": lambda: _kmeans_assign(
            emb, _kmeans_fit(emb, k=8, iterations=4)
        ),
        "language_id (scan-fused)": lambda: _with_language_id(docs, "text"),
        # banded range join: lineitem intervals grow 100x across the
        # probe's SF ladder — the shape that would nested-loop without
        # banding. Points are PER-DAY order aggregates and matches
        # aggregate per interval (the realistic range-join consumer) —
        # materializing the raw ~10^8-pair match set would time the
        # sink, not the join (measured 134 s of pure output at sf0.1)
        "interval_join (banded)": lambda: _interval_join(
            load(spark, sf_dir, "orders")["orders"].selectExpr(
                "CAST(datediff(o_orderdate, DATE '1970-01-01') AS LONG)"
                " AS p",
            ).groupBy("p").agg(F.count(F.lit(1)).alias("n")),
            load(spark, sf_dir, "lineitem")["lineitem"].selectExpr(
                "l_orderkey", "l_linenumber",
                "CAST(datediff(l_shipdate, DATE '1970-01-01') AS LONG)"
                " AS s",
            ).selectExpr("l_orderkey", "l_linenumber", "s", "s + 30 AS e"),
            "p", "s", "e", 32,
        ).groupBy("l_orderkey", "l_linenumber").agg(
            F.sum("n").alias("n_orders")
        ),
        "quantile_bins (hist-CDF rank)": lambda: _quantile_bins(
            docs.selectExpr("doc_id", "n_chars"), "n_chars", ["doc_id"]
        ),
        # degree-oriented triangles on a 10k-node formula graph (the
        # bench graph): edge volume follows the doc count, wedge work
        # is bounded by oriented out-degrees
        "triangle_count (oriented)": lambda: _triangle_counts(
            docs.selectExpr(
                "doc_id % 10007 AS src", "(doc_id * 31 + 17) % 10007 AS dst"
            ).unionAll(
                docs.selectExpr(
                    "(doc_id * 7 + 3) % 10007 AS src",
                    "(doc_id * 13 + 5) % 10007 AS dst",
                )
            )
        ),
        # peel loop over the same 10k-node graph at k=3 — rounds are
        # the degeneracy depth, each a degree agg + two semi-joins
        "k_core (peel loop, k=3)": lambda: _k_core(
            docs.selectExpr(
                "doc_id % 10007 AS src", "(doc_id * 31 + 17) % 10007 AS dst"
            ).unionAll(
                docs.selectExpr(
                    "(doc_id * 7 + 3) % 10007 AS src",
                    "(doc_id * 13 + 5) % 10007 AS dst",
                )
            ),
            3,
        ),
        # rank + banded interval join; candidate volume is exactly N*w
        "snm_blocking (w=5)": lambda: _snm_pairs(
            docs.select("doc_id", "n_chars"), "doc_id", "n_chars", window=5
        ),
        # events grow 100x across the ladder; the funnel is two
        # user-key partial-agg + join rounds on the reduced frontier
        "funnel (3 steps, 72h window)": lambda: _funnel(
            load(spark, sf_dir, "events")["events"],
            ["view", "click", "purchase"],
            within_hours=72,
        ),
        "cohort_retention (weekly)": lambda: _cohort(
            load(spark, sf_dir, "events")["events"]
        ),
        # the sketch is the 100-TB path: tasks emit <= depth*width rows
        # regardless of token volume
        "cms_build (4x1024 token sketch)": lambda: _cms_build(
            _widen(docs)
            .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
            .where(F.col("token") != ""),
            "token",
            depth=4,
            width=1024,
        ),
        # one corpus scan: stats agg + quantize + per-term micro fold
        "sq8_topk (int8 asymmetric)": lambda: _sq8_topk(
            emb, emb.filter("vec_id = 11"), k=10
        ),
        "hard_negatives (8 queries)": lambda: _hard_negatives(
            emb, emb.filter("vec_id < 8"), k_neg=5, exclude_sim=0.35
        ),
        # verify stage over blocked candidates: pair volume follows the
        # doc count (N/5 planted pairs), each an O(len^2) DP
        "editdist_verify (N/5 pairs)": lambda: _editdist_verify(
            docs.filter("doc_id % 10 = 0")
            .selectExpr("doc_id AS id_a", "doc_id + 1 AS id_b")
            .unionAll(
                docs.filter("doc_id % 10 = 5").selectExpr(
                    "doc_id AS id_a", "doc_id + 2 AS id_b"
                )
            ),
            docs,
        ),
        # grouped hist-CDF rank: parallelism never collapses to the
        # source count the way a per-group global window would
        "quantile_normalize (per-source)": lambda: _quantile_normalize(
            docs.select("doc_id", "source", "n_chars"),
            "n_chars",
            ["source"],
            ["doc_id"],
        ),
        # guarded all-pairs baseline: score pass + rank window +
        # reversed-pair self-join (candidate volume n^2)
        "mutual_knn (k=3)": lambda: _mutual_knn(emb, k=3),
        # per-session assembly sorts inside the aggregate row; the
        # 30-min sessionize window feeds it (events grow 100x)
        "top_paths (sessions, 5 steps)": lambda: _top_paths(
            load(spark, sf_dir, "events")["events"].selectExpr(
                "CAST(user_id AS STRING) AS sid", "ts", "event_type",
                "event_id",
            ),
            "sid",
        ),
        "outlier_fences (per-type IQR)": lambda: _iqr_fences(
            load(spark, sf_dir, "events")["events"].selectExpr(
                "event_type", "event_id",
                "CAST(floor(value * 10000.0) AS LONG) AS cents",
            ),
            "cents",
            ["event_type"],
            ["event_id"],
        ),
        "attribution (as-of last touch)": lambda: _attribution(
            load(spark, sf_dir, "events")["events"],
            "purchase",
            ["view", "click"],
        ),
        # round-7: the vocab-scale memoized encode at the default table
        # (flat in merge-table size — the 4k-merge A/B lives in its own
        # SCALING.md section); one tokenize pass + vocabulary-sized
        # encode + one doc-keyed reassembly shuffle
        "bpe_memoized (rank-loop UDF)": lambda: _bpe_memoized(
            docs, word_encoder="python"
        ),
        # round-7: windowed re-entry funnel — frontier keys on
        # (user, anchor), so the curve tracks step-1 event volume
        "funnel_reanchor (12h, all anchors)": lambda: _funnel(
            load(spark, sf_dir, "events")["events"],
            ["view", "click", "purchase"],
            within_hours=12,
            anchor="all",
        ),
        # round-7: batched SQ8 serve (build inside the thunk — honest
        # one-shot cost; the gate memoizes the build)
        "sq8_serve_many (4 queries)": lambda: _sq8_serve(
            emb, emb.filter("vec_id IN (0, 7, 23, 42)")
        ),
        # round-9: aligned duplicate-substring pairs — seed volume is
        # DUPLICATED anchors only, so the curve tracks the corpus's
        # duplication rate, not its size
        "exact_spans (anchor chains, L=15)": lambda: _exact_match_spans(
            docs, "doc_id", "text", k=8, min_len=15
        ),
        # round-9: unigram-LM Viterbi encode under a pre-trained model
        # (the artifact amortizes; training is driver-round-bound like
        # learn_bpe_merges and measured via the gate)
        "unigram_encode (word-table DP)": lambda: _unigram_encode(
            spark, docs, _um_model()
        ),
        # round-9 session-2: DSIR hashed-ngram selection (widened
        # feature explode, bucket table checkpointed once), exact
        # integer EWMA, WordPiece derive+encode+join-back, and the PCA
        # chain (Gram pass + driver integer rounds + projection) —
        # all built inside the thunk, no memoized model reuse
        "dsir_select (512 bins, top-60)": lambda: _dsir_select(
            docs, "doc_id", "text",
            F.col("source").isin("src0", "src1"), buckets=512, top_n=60,
        ),
        "ewma_smooth (w=8, per-user)": lambda: _ewma_smooth(
            load(spark, sf_dir, "events")["events"].selectExpr(
                "user_id", "event_id",
                "CAST(round(value * 100, 0) AS BIGINT) AS v_cents",
            ),
            ["user_id"], ["event_id"], "v_cents",
        ),
        "wordpiece_fertility (derive+encode)": lambda: _wp_fertility(
            spark, docs
        ),
        "pca (gram + 4 rounds + project)": lambda: _pca_project(
            emb.select("vec_id", "embedding"),
            _power_iter(_gram(emb, "embedding", dim=64), rounds=4),
        ),
        # round-9 session-3 wave 2: fused per-subspace PQ training (one
        # job per iteration; thunk returns a frame so materialize works)
        "pq_trained (m=4 k=4 fused fit)": lambda: spark.createDataFrame(
            [
                (j, c, "|".join(str(x) for x in cent))
                for j, book in enumerate(
                    _train_pq(
                        emb, "embedding", "vec_id",
                        m=4, k=4, iterations=2, dim=64,
                    )
                )
                for c, cent in enumerate(book)
            ],
            "j int, cell int, centroid string",
        ),
        "collocations (PMI, floor 10)": lambda: _token_pmi(
            docs, "text", min_count=10, top_n=20
        ),
        # round-10: cross-source containment matrix (shingle sets
        # collapse to the source grain; self-join fan-out sources²)
        "source_overlap (3-gram matrix)": lambda: _source_overlap(
            load(spark, sf_dir, "documents")["documents"],
            "source", "text", n=3,
        ),
        # round-10: Morton-key layout build over 100×-growing orders
        # (one scan + 1-row stats broadcast + codegen'd bit math)
        "zorder_key (2 dims, 16 bits)": lambda: _zorder_key_q(
            load(spark, sf_dir, "orders")["orders"].selectExpr(
                "o_orderkey",
                "o_custkey",
                "CAST(datediff(CAST(o_orderdate AS DATE),"
                " DATE '1970-01-01') AS BIGINT) AS epoch_day",
            ),
            ["o_custkey", "epoch_day"],
            bits=16,
        ),
        # round-10: HLL register build over the 100×-growing orderkey
        # stream (map-side partial max → ≤64 rows per task at any size)
        "hll_registers (64 buckets, orderkey)": lambda: _hll_registers(
            load(spark, sf_dir, "lineitem")["lineitem"], "l_orderkey"
        ),
        # round-10: three single-term BM25 rankings + qrels + metrics
        "retrieval_eval (3 queries, k=10)": lambda: _q_retrieval_eval(
            spark, sf_dir
        ),
        # round-11: the IVFADC residual route (build + 4-query serve in
        # one plan), FIM/span-corruption example construction, and the
        # portable-MinHash dedup-quality eval (truth self-join + banded
        # candidates + metrics)
        "ivf_pq_residual (build+serve 4q)": lambda: _ivf_pq_topk_many_res(
            spark, sf_dir
        ),
        "fim_transform (PSM projection)": lambda: _fim_transform(docs),
        "span_corrupt (explode+window+regroup)": lambda: _span_corrupt(
            docs
        ),
        "dedup_recall_eval (truth+LSH+metrics)": lambda: _q_dedup_recall(
            spark, sf_dir
        ),
        # round-10: the composed 12-stage capstone, COLD — both probe
        # runs rebuild the whole chain (min-of-2 would otherwise time
        # the memoized re-read); see _corpus_build_prep.
        "corpus_build (12-stage chain, cold)": (
            lambda: _corpus_build_prep(spark, sf_dir),
            lambda: q_corpus_build(spark, sf_dir),
        ),
    }


def _corpus_build_prep(spark, sf_dir) -> None:
    """Untimed reset before a cold corpus_build run: release the session
    memo so the 12-stage chain rebuilds, then re-memoize the learned-BPE
    merges it reads (the artifact amortizes, same posture as
    unigram_encode's pre-trained model)."""
    from jobinsight_data_pipeline_spark.catalog import release
    from jobinsight_data_pipeline_spark.catalog.textml import _learned_merges

    release(spark)
    _learned_merges(spark, sf_dir)


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

    names = list(probes(spark, BASE.format(SFS[0])))
    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf in SFS:
        sf_dir = BASE.format(sf)
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
            results[name][sf] = round(best, 2)

    print("| operator | sf0.001 | sf0.01 | sf0.1 | wall x at max input x |")
    print("|---|---|---|---|---|")
    for name in names:
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
