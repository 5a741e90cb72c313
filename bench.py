#!/usr/bin/env python
"""Benchmark the headline catalog queries and the direct operator paths.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "cold_queries": {name: sec, ...},
   "scaled_queries": {name@xM: sec, ...}, "sf": ...}

Each query is fully materialized through the noop sink (no driver-side
collect, no result-size bias). Session startup is excluded from per-query
times; a separate "startup_sec" field reports it.

Round-over-round comparability (round-2 lesson: a 1.3× uniform drift on
untouched queries was unattributable): each query runs three times on a
fixed schedule. Run 1 follows a `release` of the session memo, so it
rebuilds every memoized gate state; it is reported alone as the cold
time. Runs 2 and 3 may reuse that state, and the faster of the two is
reported under `queries` (ambient-load spikes hit one run, rarely both).
The JSON carries `loadavg` (1/5/15-min, captured before and after) so a
loaded machine is visible in the artifact instead of guessed at later.

What is timed is one ordered table, ``ENTRIES``: name -> ``entry(ctx)``.
An entry does its untimed preparation (input graphs, query batches, an
index read, a trained model) and returns the zero-argument thunk that
``timed`` runs. The thunk returns a DataFrame, which ``run`` puts through
``materialize``; a fit or a write (marked ``_fit``) returns anything
else, which is dropped. ``scripts/dump_plans.py``, ``scripts/scaling_probe.py`` and
``scripts/docs_tier_probe.py`` read the same table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable
from functools import cached_property

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jobinsight_data_pipeline_spark.catalog import (
    TABLES,
    build_catalog,
    load,
    release,
    scratch_dir,
)
from jobinsight_data_pipeline_spark.catalog.textml import CLF_BIAS, CLF_WEIGHTS
from jobinsight_data_pipeline_spark.operators.bpe import (
    bpe_encode,
    bpe_encode_memoized,
    bpe_ids_column,
)
from jobinsight_data_pipeline_spark.operators.classifier import (
    hashed_linear_score,
)
from jobinsight_data_pipeline_spark.operators.clustering import (
    gram_matrix,
    kmeans_assign,
    kmeans_fit_quantized,
    kmeans_pp_fit_quantized,
    pca_project,
    power_iteration_int,
    train_pq_codebooks_quantized,
    train_pq_codebooks_residual,
)
from jobinsight_data_pipeline_spark.operators.components import (
    free_pins,
    pagerank_quantized,
    triangle_counts,
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
from jobinsight_data_pipeline_spark.operators.examples import (
    fim_transform,
    span_corrupt,
)
from jobinsight_data_pipeline_spark.operators.packing import (
    materialize_packs,
    shuffle_shard,
)
from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu
from jobinsight_data_pipeline_spark.operators.ranking import bm25_topk
from jobinsight_data_pipeline_spark.operators.sampling import select_until_budget
from jobinsight_data_pipeline_spark.operators.similarity import (
    build_ivf_pq_index,
    build_semantic_state,
    build_sq8_index,
    incremental_semantic_dedup,
    ivf_pq_topk_indexed,
    ivf_pq_topk_many,
    lsh_cosine_topk,
    pq_codebooks,
    pq_encode,
    semantic_dedup,
    sq8_topk_indexed,
    unit_centroids,
)
from jobinsight_data_pipeline_spark.operators.sketches import (
    hll_estimate_micro,
    hll_registers,
)
from jobinsight_data_pipeline_spark.operators.textstats import (
    bigram_logprob,
    dedup_paragraphs,
    redact_pii,
    tokens,
)
from jobinsight_data_pipeline_spark.operators.unigram import (
    unigram_encode,
    unigram_train,
    words_with_freq,
)
from jobinsight_data_pipeline_spark.operators.wordpiece import (
    wordpiece_word_table,
)
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

# the CPU-parallel chains the opt-in scale tier re-times on replicated input
SCALED = (
    "simhash_pairs",
    "ngram_jaccard",
    "bpe_encode",
    "pq_encode",
    "kmeans_fit",
    "incremental_dedup",
)

# the seeded PQ codebooks and IVF coarse centroids every vector entry uses
CB = pq_codebooks()
CENTS = unit_centroids(64, 16, seed=11)


def materialize(df) -> None:
    """Run ``df`` to completion through the noop sink, then free the
    per-invocation checkpoints its operator pinned (``register_pins``):
    every timed run would otherwise leave them stored until exit."""
    df.write.format("noop").mode("overwrite").save()
    free_pins(df)


def run(thunk: Callable[[], object]) -> None:
    """Run an entry's thunk; a DataFrame it returns goes through
    ``materialize``."""
    out = thunk()
    if isinstance(out, DataFrame):
        materialize(out)


def replicate(docs, emb, m: int):
    """The ``m``-times scale tier of ``docs`` and ``emb``: replica ``r``
    of a row takes the id ``id * m + r``, and every whitespace-delimited
    token of its text gains the suffix ``~r``. Shingling splits on
    whitespace and keeps ``~`` and digits, so each replica has the base
    corpus's duplicate structure and no replica shares a shingle with
    another: the tier holds ``m`` times the base pairs, not ``m - 1``
    near-copies of every document. Embedding replicas are exact copies
    (the vector chains timed on them are per-row or per-cell sums)."""
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


class Ctx:
    """What entries read: the session, the scale-factor dir, the catalog
    queries, the input tables and a scratch dir, each made on first use
    (a corpus-only dir has no ``lineitem.parquet``). Keyword arguments
    replace inputs: the ``@xM`` tier passes ``replicate``'s tables."""

    def __init__(self, spark, sf_dir: str, **inputs) -> None:
        self.spark, self.sf_dir = spark, sf_dir
        self.__dict__.update(inputs)

    def _read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(f"{self.sf_dir}/{table}.parquet")

    @cached_property
    def queries(self) -> dict:
        return build_catalog()[0]

    @cached_property
    def documents(self) -> DataFrame:
        return self._read("documents")

    @cached_property
    def embeddings(self) -> DataFrame:
        return self._read("embeddings")

    @cached_property
    def lineitem(self) -> DataFrame:
        return self._read("lineitem")

    @cached_property
    def first20(self) -> DataFrame:
        """The 20-vector query batch the retrieval entries rank."""
        return self.embeddings.filter("vec_id < 20")

    @cached_property
    def scratch(self) -> str:
        return scratch_dir("bench_")

    def index(self, name: str, write: Callable[[Ctx, str], None]) -> str:
        """Path of index ``name`` in the scratch dir. A serve entry reads
        what its build entry's timed runs wrote; run alone, it has
        ``write(self, path)`` write the index first, untimed."""
        path = os.path.join(self.scratch, name)
        if not os.path.exists(path):
            write(self, path)
        return path


def _gate(name: str):
    """The entry timing catalog gate ``name``, the frame its oracle checks."""

    def entry(c: Ctx):
        query = c.queries[name]
        return lambda: query(c.spark, c.sf_dir)

    entry.gate = name
    return entry


def _fit(entry):
    """Mark ``entry`` as a fit or a write: its thunk returns no DataFrame,
    so it has no plan to explain short of running it."""
    entry.fit = True
    return entry


def _build(name: str, write: Callable[[Ctx, str], None]):
    """The entry timing ``write`` of index ``name`` into ctx's scratch dir."""

    def entry(c: Ctx):
        path = os.path.join(c.scratch, name)
        return lambda: write(c, path)

    return _fit(entry)


def triangle_graph(docs) -> DataFrame:
    """A 10k-node formula graph, denser than the catalog gate's 101-node
    fixture: its edge volume follows the doc count."""
    return docs.selectExpr(
        "doc_id % 10007 AS src", "(doc_id * 31 + 17) % 10007 AS dst"
    ).unionAll(
        docs.selectExpr(
            "(doc_id * 7 + 3) % 10007 AS src", "(doc_id * 13 + 5) % 10007 AS dst"
        )
    )


def _wordpiece_fertility(spark, docs) -> DataFrame:
    """Per-source WordPiece fertility: vocab derive (eager collects) +
    distinct-word encode + join-back. Direct operator path: the catalog
    gate memoizes the vocab per session, which would let run 2 of
    ``timed`` skip the derive collects."""
    wt = wordpiece_word_table(spark, docs)
    toks = docs.select(
        "source", F.explode(F.transform(tokens("text"), F.lower)).alias("w")
    ).where(F.col("w") != "")
    return (
        toks.join(wt.select("w", "n_pieces"), "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
        )
        .withColumn("fert_milli", F.expr("(1000L * n_pieces) div n_words"))
    )


def ivf_pq_frame(c: Ctx) -> DataFrame:
    """The rows ``ivf_pq_build`` writes partitioned by cell: the encode
    widens its own scan, then the narrow (id, cell, codes) rows shuffle
    to the cell grain. Without that shuffle every task writes a file per
    cell it touches (measured 494 files; 16 after — and the compacted
    layout serves ~1.7x faster too). Guide §6."""
    return build_ivf_pq_index(c.embeddings, CENTS, CB).repartition("cell")


def _write_ivf_pq(c: Ctx, path: str) -> None:
    ivf_pq_frame(c).write.mode("overwrite").partitionBy("cell").parquet(path)


def _write_sq8(c: Ctx, path: str) -> None:
    codes, stats = build_sq8_index(c.embeddings)
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    stats.write.mode("overwrite").parquet(f"{path}/stats")


def _embedding_lsh_topk(c: Ctx):
    queries = c.first20
    return lambda: lsh_cosine_topk(c.embeddings, queries, k=5)


def _pagerank(c: Ctx):
    d = c.documents
    edges = d.selectExpr("doc_id AS src", "(doc_id * 3 + 1) % 97 AS dst").unionAll(
        d.selectExpr("doc_id AS src", "(doc_id * 7 + 2) % 97 AS dst")
    )
    return lambda: pagerank_quantized(edges, iterations=5)


def _triangle_count(c: Ctx):
    edges = triangle_graph(c.documents)
    return lambda: triangle_counts(edges)


def _incremental_semantic_dedup(c: Ctx):
    emb = c.embeddings.select("vec_id", "embedding")
    return lambda: incremental_semantic_dedup(
        emb.filter("vec_id % 2 = 1"),
        build_semantic_state(emb.filter("vec_id % 2 = 0"), CENTS),
        CENTS,
        threshold=0.4,
    )


@_fit
def _bpe_budget_packs(c: Ctx):
    """The composed tokenize-and-fill-budget chain: classifier scores +
    BPE ids written once (the write is part of the honest cost, fresh
    per run), budget cut, fixed-256 packing."""

    def chain() -> None:
        d = tempfile.mkdtemp(prefix="bench_bpe_")
        try:
            # encode + score in ONE scan-fused projection (both are
            # per-row expressions over text): the former
            # encode.join(scored) shape scanned the corpus twice and
            # paid a join to reunite per-row columns (r12; identical
            # rows — unique doc_id key)
            # the chain builds its own Column kernel, so it widens here
            ids = bpe_ids_column("text")
            widen_for_cpu(c.documents).select(
                F.col("doc_id"),
                ids.alias("ids"),
                F.size(ids).alias("n_ids"),
                hashed_linear_score("text", CLF_WEIGHTS, CLF_BIAS).alias(
                    "score_micro"
                ),
            ).write.parquet(d + "/cand")
            cand = c.spark.read.parquet(d + "/cand")
            kept = select_until_budget(
                cand, "score_micro", "n_ids", 30_000, ["doc_id"]
            ).select("doc_id", "ids")
            materialize(
                materialize_packs(kept, capacity=256, bounds=[100, 200, 300, 400])
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)

    return chain


def _ivf_pq_serve(c: Ctx):
    index = c.spark.read.parquet(c.index("ivf_pq", _write_ivf_pq))
    qvec = [float(x) for x in c.embeddings.filter("vec_id = 0").head()["embedding"]]
    return lambda: ivf_pq_topk_indexed(index, qvec, CENTS, CB, k=10, n_probe=4)


def _ivf_pq_serve_many(c: Ctx):
    index = c.spark.read.parquet(c.index("ivf_pq", _write_ivf_pq))
    qbatch = c.first20.selectExpr("vec_id AS query_id", "embedding")
    return lambda: ivf_pq_topk_many(index, qbatch, CENTS, CB, k=10, n_probe=4)


def _sq8_serve_many(c: Ctx):
    path = c.index("sq8", _write_sq8)
    codes = c.spark.read.parquet(f"{path}/codes")
    stats = c.spark.read.parquet(f"{path}/stats")
    qbatch = c.first20.select("vec_id", "embedding")
    return lambda: sq8_topk_indexed(codes, stats, qbatch, k=10)


def _unigram_encode(c: Ctx):
    # the model trains ONCE outside the timer (a tokenizer artifact
    # amortizes over every corpus it encodes)
    model = unigram_train(
        c.spark, words_with_freq(c.documents), rounds=3, seed_k=80, vocab_k=40
    )
    return lambda: unigram_encode(c.spark, c.documents, model)


def _ivf_pq_residual_serve(c: Ctx):
    # CB is pq_codebooks(dim=64, m=8, k=16, seed=5), the residual books
    return lambda: ivf_pq_topk_many(
        build_ivf_pq_index(c.embeddings, CENTS, CB, residual=True),
        c.first20.selectExpr("vec_id AS query_id", "embedding"),
        CENTS, CB, k=10, n_probe=4, residual=True,
    )


ENTRIES: dict[str, Callable[[Ctx], Callable[[], object]]] = {
    **{name: _gate(name) for name in HEADLINE},
    # dedup operators benched directly at production settings (their gate
    # queries bundle exact twins / md5 hashing for oracle checking):
    # exact n-gram jaccard, xxhash64 minhash-LSH, xxhash64 64-bit simhash
    "ngram_jaccard": lambda c: lambda: ngram_jaccard_pairs(
        c.documents, "doc_id", "text", threshold=0.5
    ),
    "minhash_lsh": lambda c: lambda: minhash_lsh_pairs(c.documents, "doc_id", "text"),
    "simhash_pairs": lambda c: lambda: simhash_near_pairs(
        c.documents, "doc_id", "text", max_hamming=3
    ),
    "embedding_lsh_topk": _embedding_lsh_topk,
    # round-4 training-data operators: ExactSubstr span detection,
    # SemDeDup (seeded-KMeans fit path), PII scrub, deterministic
    # shuffle-and-shard (sizing job included in the time)
    "duplicate_spans": lambda c: lambda: duplicate_spans(
        c.documents, "doc_id", "text", n=8
    ),
    "semantic_dedup": lambda c: lambda: semantic_dedup(
        c.embeddings, threshold=0.4, n_clusters=16
    ),
    "pii_scrub": lambda c: lambda: redact_pii(c.documents, "text"),
    "shuffle_shard": lambda c: lambda: shuffle_shard(
        c.documents.select("doc_id"), "doc_id", 256
    ),
    # round-5: BM25 corpus slicing (scan-fused fixed-query form),
    # corpus-wide paragraph dedup (the synthetic docs are single-line, so
    # this times the explode/hash/agg machinery), MOSS-style
    # fingerprint-overlap candidate pairs
    "bm25_topk": lambda c: lambda: bm25_topk(
        c.documents, ["spark", "vector", "customer"], k=100
    ),
    "paragraph_dedup": lambda c: lambda: dedup_paragraphs(
        c.documents, mode="keep_first"
    ),
    "bigram_lm": lambda c: lambda: bigram_logprob(c.documents, "doc_id"),
    "winnow_overlap": lambda c: lambda: winnow_overlap_pairs(
        c.documents, "doc_id", "text", k=5, window=4, min_shared=2
    ),
    # the sf0.1 embeddings parquet is ONE file / one row group; pq_encode
    # and build_ivf_pq_index widen their own scan (a no-op at real corpus
    # layouts), so the CPU-dense encode chains parallelize here
    "pq_encode": lambda c: lambda: pq_encode(c.embeddings, CB),
    "pagerank": _pagerank,
    # round-6: degree-oriented triangle counting (times the wedge join)
    "triangle_count": _triangle_count,
    # round-6: subword BPE encode (native replace-chain, scan-fused);
    # round-7: the vocab-scale memoized encode (distinct-word table +
    # rank-loop pandas UDF + join-back) at the same 55-merge table —
    # slower here than the direct chain (tiny corpus vocabulary), FLAT
    # in merge-table size where the direct chain dies at 4k merges
    # (SCALING.md round-7 A/B). Both widen their own input.
    "bpe_encode": lambda c: lambda: bpe_encode(c.documents),
    "bpe_memoized": lambda c: lambda: bpe_encode_memoized(
        c.documents, word_encoder="python"
    ),
    # round-6: day-2 incremental dedup (xxhash64): first half of the
    # corpus is the persisted history, second half the incoming batch —
    # state build included in the time (the day-1 cost amortizes in
    # production; here it keeps the number honest); then its embedding
    # twin, day-2 SemDeDup against the persisted cell state
    "incremental_dedup": lambda c: lambda: incremental_dedup(
        c.documents.filter("doc_id % 2 = 1"),
        build_dedup_state(c.documents.filter("doc_id % 2 = 0")),
    ),
    "incremental_semantic_dedup": _incremental_semantic_dedup,
    "bpe_budget_packs": _bpe_budget_packs,
    # the IVF-PQ build/serve duality: build = one corpus scan (cell
    # assign + PQ codes) WRITTEN partitioned by cell (the persist is the
    # point); serve = partition-pruned probe-cell read + ADC rank against
    # the persisted index, one query and then 20 in ONE distributed job
    "ivf_pq_build": _build("ivf_pq", _write_ivf_pq),
    "ivf_pq_serve": _ivf_pq_serve,
    "ivf_pq_serve_many": _ivf_pq_serve_many,
    # round-7: batched SQ8 serving against a persisted code table (the
    # ivf_pq_serve_many twin): build, then 20 queries in one job
    "sq8_build": _build("sq8", _write_sq8),
    "sq8_serve_many": _sq8_serve_many,
    # distributed quantized k-means: the full MLlib-shaped Lloyd's fit
    # (4 rounds of scan-fused assign + one-shuffle update over the whole
    # embeddings table) plus the final zero-shuffle assignment pass
    "kmeans_fit": lambda c: lambda: kmeans_assign(
        c.embeddings, kmeans_fit_quantized(c.embeddings, k=8, iterations=4)
    ),
    # round-9: suffix-array-equivalent aligned duplicate-substring pairs
    # (anchor seed + diagonal chaining), and unigram-LM Viterbi encode
    # under a corpus-trained piece model (the per-corpus encode serve)
    "exact_spans": lambda c: lambda: exact_match_spans(
        c.documents, "doc_id", "text", k=8, min_len=15
    ),
    "unigram_encode": _unigram_encode,
    # round-9 session-2: DSIR hashed-ngram selection, exact integer EWMA,
    # WordPiece corpus fertility, and PCA power iteration (Gram pass +
    # driver-side integer rounds + scan-fused projection — timed
    # end-to-end, no memoized model reuse)
    "dsir_select": _gate("dsir_select"),
    "ewma_smooth": _gate("ewma_smooth"),
    "wordpiece_fertility": lambda c: lambda: _wordpiece_fertility(c.spark, c.documents),
    "pca_power": lambda c: lambda: pca_project(
        c.embeddings.select("vec_id", "embedding"),
        power_iteration_int(gram_matrix(c.embeddings, "embedding", dim=64), rounds=4),
    ),
    # trained-PQ: full per-subspace fit (one job per iteration, fused)
    "pq_trained": _fit(
        lambda c: lambda: train_pq_codebooks_quantized(
            c.embeddings, "embedding", "vec_id", m=4, k=4, iterations=2, dim=64
        )
    ),
    # round-10: the k-means|| seed round + the same 4-iteration fit —
    # direct operator path (the catalog gate memoizes the model per
    # session, which would let run 2 of timed() skip the fit); seeds +
    # fit share ONE checkpointed quantize pass (r12)
    "kmeans_pp_fit": _fit(
        lambda c: lambda: kmeans_pp_fit_quantized(
            c.embeddings, "embedding", "vec_id", k=8, iterations=4
        )
    ),
    # round-10: HLL cardinality state over the 600k-row orderkey
    # stream, and the 3-query retrieval-metrics eval loop
    "hll_registers": lambda c: lambda: hll_registers(c.lineitem, "l_orderkey"),
    "retrieval_eval": _gate("retrieval_eval"),
    # round-11: the IVFADC residual route (build residual index + 20
    # queries served in one job — the raw-route ivf_pq_serve_many's
    # head-to-head), the engine-side HLL estimate over the same
    # orderkey stream as hll_registers, and the residual-vs-raw
    # quantization-error audit (the coarse-quantizer fit memoizes per
    # session like the catalog gate)
    "ivf_pq_residual_serve": _ivf_pq_residual_serve,
    "hll_estimate": lambda c: lambda: hll_estimate_micro(
        hll_registers(c.lineitem, "l_orderkey")
    ),
    "pq_residual_error": _gate("pq_residual_error"),
    # round-11: example construction (zero-shuffle FIM projection; span
    # corruption's explode → shared doc-key exchange → re-assembly)
    "fim_transform": lambda c: lambda: fim_transform(c.documents),
    "span_corrupt": lambda c: lambda: span_corrupt(c.documents),
    # round-12: residual-books training (the third leg of the FAISS
    # IVFADC recipe — fresh fit per run), and the mergeable-quantile
    # histogram (state build + extraction: one partial-agg shuffle + a
    # model-sized window cumsum)
    "pq_residual_train": _fit(
        lambda c: lambda: train_pq_codebooks_residual(
            c.embeddings, CENTS, m=8, k=16, iterations=2, dim=64
        )
    ),
    "hist_quantiles": _gate("hist_quantiles"),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    t0 = time.time()
    spark = get_spark(app_name="jobinsight-bench")
    startup = time.time() - t0

    # warm-up: file-index + parquet footers + first codegen compile, so
    # per-query numbers reflect steady-state compute (reported separately)
    t0 = time.time()
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
            .over(Window.partitionBy("k").orderBy("x"))
            .alias("rn"),
        )
        .filter("rn <= 3")
        .write.format("noop").mode("overwrite").save()
    )
    warmup = time.time() - t0

    load_before = os.getloadavg()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}

    def timed(name: str, thunk) -> None:
        """Three runs after a release of the session memo. Run 1 rebuilds
        every memoized gate state (warehouses, fitted models, state
        built on disk) and goes alone into ``cold[name]``. Runs 2 and 3
        may reuse it; the faster of the two goes into ``timings[name]``,
        so the warm time never takes the cold run into its minimum."""
        release(spark)
        times = []
        for _ in range(3):
            t0 = time.time()
            run(thunk)
            times.append(time.time() - t0)
        cold[name] = round(times[0], 3)
        timings[name] = round(min(times[1:]), 3)

    ctx = Ctx(spark, sf_dir)
    for table in ("documents", "embeddings", "lineitem"):
        getattr(ctx, table)  # read before the first timed entry
    for name, entry in ENTRIES.items():
        timed(name, entry(ctx))

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
        docs_m, emb_m = replicate(ctx.documents, ctx.embeddings, mult)
        ctx_m = Ctx(spark, sf_dir, documents=docs_m, embeddings=emb_m)
        for name in SCALED:
            timed(f"{name}@x{mult}", ENTRIES[name](ctx_m))
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
            "runs_per_query": 3,
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
