"""Incremental/streaming mode (SURVEY §2.10).

The reference's incremental semantics:
- staging→DWH consumes ``crawled_at >= now − 7d`` with idempotent
  upserts downstream (src/etl/etl_main.py:204-251) — an at-least-once
  window re-read;
- fact dates are clamped to [now−90d, now+180d] — an allowed-lateness
  policy (src/processing/data_prepare.py:289-294).

Structured Streaming makes both native: a checkpointed file source gives
exactly-once batch ids (the lookback becomes unnecessary), and
``withWatermark`` bounds state for late events. ``foreachBatch`` runs the
SAME set-based merge plans as batch mode — one code path.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jobinsight_data_pipeline_spark.schemas import RAW_JOBS
from jobinsight_data_pipeline_spark.sources.jsonl import _parse_lines
from jobinsight_data_pipeline_spark.sources.lake import ParquetLake


def _drops(
    spark: SparkSession,
    path: str,
    schema=None,
    fmt: str = "parquet",
    files_per_batch: int = 1,
) -> DataFrame:
    """The file-drop source every streaming loop reads: the files landing
    in ``path``, ``files_per_batch`` per micro-batch. One file per batch
    is the default, so cross-batch state is actually exercised."""
    reader = spark.readStream.format(fmt).option(
        "maxFilesPerTrigger", files_per_batch
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def _drain(
    stream: DataFrame,
    checkpoint_dir: str,
    handle: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """The one micro-batch driver: run ``handle(batch, epoch_id)`` on each
    micro-batch of ``stream`` under ``checkpoint_dir``, draining what is
    there and stopping (the availableNow trigger — testable and
    cron-compatible). The handler applies batch operators to the batch,
    the same plans batch mode runs."""
    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_raw_ingest(
    spark: SparkSession,
    raw_dir: str,
    lake: ParquetLake,
    checkpoint_dir: str,
    run_ts: dt.datetime,
    process_dwh: bool = True,
    dwh_stats: bool = True,
) -> StreamingQuery:
    """Stream crawler output (parquet drops in ``raw_dir``, 16 files per
    micro-batch) into the warehouse: each micro-batch runs ingest →
    staging derive → dim/fact merges via the batch plans (idempotent, so
    at-least-once is safe)."""
    from jobinsight_data_pipeline_spark.plans.pipeline import (
        ingest_raw,
        run_raw_to_staging,
        run_staging_to_dwh,
    )

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        ingest_raw(lake, batch)
        run_raw_to_staging(lake, batch.sparkSession, run_ts)
        if process_dwh:
            run_staging_to_dwh(
                lake, batch.sparkSession, run_ts, collect_stats=dwh_stats
            )

    stream = _drops(spark, raw_dir, RAW_JOBS, files_per_batch=16)
    return _drain(stream, checkpoint_dir, handle_batch)


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over an event-time
    stream — the streaming-aggregation primitive the reference's monthly
    ``load_month`` partitioning approximates for storage. Works on both
    static and streaming frames (unit tests use static)."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(win.alias("w"), F.col("event_type")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


def stream_dedup(
    spark: SparkSession,
    raw_dir: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "365 days",
) -> StreamingQuery:
    """Exactly-once streaming deduplication with BOUNDED state — the
    streaming twin of operators/dedup.exact_dedup.

    ``dropDuplicatesWithinWatermark`` keeps one state row per key and
    EVICTS it once the watermark passes (plain streaming dropDuplicates
    retains state forever — a leak at 100 TB/day; the watermark variant
    is the scale-correct choice: duplicates in real pipelines arrive
    close together, so state size tracks the lateness bound, not history).
    Rows flow to a native parquet file sink in append mode; the
    checkpoint makes re-runs exactly-once. One micro-batch per dropped
    file, so cross-batch duplicate state is actually exercised.
    """
    stream = _drops(spark, raw_dir, schema)
    deduped = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_jsonl_ingest(
    spark: SparkSession,
    raw_dir: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming crawl ingestion from JSON-Lines drops — the streaming
    twin of ``sources/jsonl.read_jsonl``: a text readStream parsed by
    the same ``sources/jsonl._parse_lines`` as the batch reader, landing
    in ONE unified parquet sink that carries the data columns plus
    ``_corrupt_record``. Clean view = filter corrupt IS NULL; quarantine
    view = the complement — and because a single native file sink is
    exactly-once under its checkpoint, neither view can double-count on
    retry (a clean/quarantine two-sink split via foreachBatch would
    demote both to at-least-once).

    Blank lines are skipped like the json datasource does. One
    micro-batch per dropped shard, the cross-batch behavior tests want
    exercised."""
    stream = _parse_lines(_drops(spark, raw_dir, fmt="text"), schema).select(
        "_p.*"
    )
    return (
        stream.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_dedup(
    spark: SparkSession,
    raw_dir: str,
    schema,
    sink_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
    record: str = "kept",
) -> StreamingQuery:
    """Day-N corpus dedup as a streaming loop — the streaming twin of
    ``operators/dedup.incremental_dedup``: each micro-batch is classified
    against the persisted state (exact content hash + minhash band
    buckets), the classified rows land in the sink, and the state grows
    append-only — ``foreachBatch`` running the SAME set-based batch
    operator, one code path (the §2.10 discipline).

    ``record`` controls what joins history after each batch:

    - ``"kept"`` (production default): only surviving docs — the
      classic dedup-against-corpus semantics;
    - ``"all"``: every processed doc. With id-ordered drops this makes
      the cross-batch decisions IDENTICAL to one-shot batch
      ``incremental_dedup`` over the concatenated batches (a later doc
      is dropped against any earlier doc, kept or not — the batch
      operator's single-pass rule), which is what lets the catalog pin
      batch ≡ streaming under ONE oracle.

    Exactly-once caveat (documented, deliberate): foreachBatch with two
    appends is at-least-once on retry. The STATE side is idempotent by
    construction — ``incremental_dedup`` reads history through
    ``distinct()``, so replayed state rows cannot change any decision —
    but the sink can double-append a replayed batch; the availableNow
    gates never retry, and production sinks should MERGE on the id.
    State bootstrap: an absent ``state_dir`` starts empty (schema
    derived from the batch itself, no hardcoded types).
    """
    import os

    from jobinsight_data_pipeline_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup,
    )

    if record not in ("kept", "all"):
        raise ValueError(f"record must be 'kept' or 'all', got {record!r}")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        if os.path.isdir(state_dir) and any(
            f.endswith(".parquet") for f in os.listdir(state_dir)
        ):
            state = sp.read.parquet(state_dir)
        else:
            state = build_dedup_state(
                batch_df.limit(0), id_col, text_col,
                n_hashes, bands, shingle_n, hash_mode,
            )
        classified = incremental_dedup(
            batch_df, state, id_col, text_col,
            n_hashes, bands, shingle_n, hash_mode,
        ).persist()
        try:
            classified.write.mode("append").parquet(sink_dir)
            src = (
                classified
                if record == "all"
                else classified.filter(F.col("status") == "kept")
            )
            build_dedup_state(
                src.drop("status"), id_col, text_col,
                n_hashes, bands, shingle_n, hash_mode,
            ).write.mode("append").parquet(state_dir)
        finally:
            classified.unpersist()

    return _drain(_drops(spark, raw_dir, schema), checkpoint_dir, _process)


def stream_unigram_encode(
    spark: SparkSession,
    raw_dir: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
    model: list[tuple[str, int, int]],
    pmax: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Day-N tokenization as a streaming loop — the serving half of the
    unigram tokenizer-artifact lifecycle (operators/unigram.save_model /
    load_model): each micro-batch of documents is Viterbi-encoded with
    the FROZEN trained model (the artifact a training run ships beside
    its shards — never retrained mid-stream, so every batch segments
    identically to a batch encode) and the per-document id sequences
    land in the sink append-only. Encoding is per-document stateless,
    so streaming ≡ batch by construction; the catalog gate pins it with
    the batch oracle anyway. The model is a driver-side list (model-
    sized — tens of KB); ``foreachBatch`` closes over it once."""
    from jobinsight_data_pipeline_spark.operators.unigram import (
        unigram_encode,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        enc = unigram_encode(
            sp, batch_df, model, pmax=pmax, id_col=id_col, text_col=text_col
        )
        ids = F.transform(
            F.array_sort(
                F.collect_list(F.struct("pos", "idx", "piece_id"))
            ),
            lambda s: s["piece_id"].cast("string"),
        )
        agg = enc.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_pieces"),
            F.array_join(ids, "-").alias("ids_str"),
        )
        out = (
            batch_df.select(id_col)
            .join(agg, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_pieces", F.lit(0).cast("long")).alias(
                    "n_pieces"
                ),
                F.coalesce("ids_str", F.lit("")).alias("ids_str"),
            )
        )
        out.write.mode("append").parquet(sink_dir)

    return _drain(_drops(spark, raw_dir, schema), checkpoint_dir, _process)


def stream_semantic_dedup(
    spark: SparkSession,
    raw_dir: str,
    schema,
    sink_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    record: str = "kept",
) -> StreamingQuery:
    """Embedding day-N dedup as a streaming loop — the SemDeDup twin of
    :func:`stream_incremental_dedup`: each micro-batch of vectors is
    classified against the persisted cell state
    (``similarity.build_semantic_state``), classified rows land in the
    sink, the state grows append-only. ``record='kept'`` is the
    production semantics; ``record='all'`` + id-ordered drops makes
    cross-batch decisions equal one-shot batch
    ``incremental_semantic_dedup`` (the catalog's batch ≡ streaming
    pin). State reads are append-idempotent: a replayed state row only
    raises a match COUNT, never flips a kept/near_dup decision, since
    any count ≥ 1 already classifies — but exact n_hist_matches in the
    sink does assume no replay (availableNow gates never retry; MERGE
    the sink in production)."""
    import os

    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_semantic_state,
        incremental_semantic_dedup,
    )

    if record not in ("kept", "all"):
        raise ValueError(f"record must be 'kept' or 'all', got {record!r}")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        if os.path.isdir(state_dir) and any(
            f.endswith(".parquet") for f in os.listdir(state_dir)
        ):
            state = sp.read.parquet(state_dir)
        else:
            state = build_semantic_state(
                batch_df.limit(0), centroids, id_col, vec_col
            )
        classified = incremental_semantic_dedup(
            batch_df, state, centroids, threshold, id_col, vec_col
        ).persist()
        try:
            classified.write.mode("append").parquet(sink_dir)
            if record == "all":
                src = batch_df
            else:
                src = batch_df.join(
                    classified.filter(F.col("status") == "kept").select(
                        id_col
                    ),
                    id_col,
                    "left_semi",
                )
            build_semantic_state(src, centroids, id_col, vec_col).write.mode(
                "append"
            ).parquet(state_dir)
        finally:
            classified.unpersist()

    return _drain(_drops(spark, raw_dir, schema), checkpoint_dir, _process)


def stream_state(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    reduce: Callable[[DataFrame], DataFrame],
) -> StreamingQuery:
    """Mergeable streaming state: each micro-batch of the parquet drops
    in ``raw_dir`` reduces to ``reduce(batch)`` — a batch operator's
    partial state (sketch cells, histogram or bin counts, Gram partials,
    per-key minima, sample candidates), sized by the operator rather
    than the batch — written to ``state_dir/batch=<epoch>``. The live
    state is the operator's merge over ``spark.read.parquet(state_dir)``.

    Replay idempotence: each epoch overwrites its own ``batch=<epoch>``
    partition, so a replayed foreachBatch rewrites the same rows and
    the loop is exactly-once without a merge sink (contrast the append
    sinks of :func:`stream_incremental_dedup`). The merge commutes
    (sum, min, max, distinct ∪ → top-n), so batch order is irrelevant
    and the merged state equals the batch operator over everything
    ingested — the streaming ≡ batch pin the stream_* gates share
    their batch twins' oracles for."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        reduce(batch_df).write.mode("overwrite").parquet(
            f"{state_dir}/batch={epoch_id}"
        )

    return _drain(_drops(spark, raw_dir, schema), checkpoint_dir, _process)


def read_cms_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge a count-min ``stream_state`` dir (``sketches.cms_build``
    per batch) into one sketch: cell-wise sum across the batch
    partitions (row_idx, bucket, cnt)."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def read_first_seen(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Merge a first-seen ``stream_state`` dir (per-batch (id, min ts))
    into the per-id min across the batch partitions."""
    return (
        spark.read.parquet(state_dir)
        .groupBy(id_col)
        .agg(F.min(ts_col).alias(ts_col))
    )


def read_gram_state(
    spark: SparkSession, state_dir: str, dim: int = 64
) -> list[list[int]]:
    """Merge a Gram ``stream_state`` dir (``clustering.gram_partials``
    per batch) into the full symmetric Gram matrix: per-cell sum across
    batch partitions (model-sized collect), mirrored from the stored
    upper triangle."""
    from jobinsight_data_pipeline_spark.operators.clustering import (
        _triangle_to_matrix,
    )

    rows = (
        spark.read.parquet(state_dir)
        .groupBy("k")
        .agg(F.sum("g").alias("g"))
        .collect()
    )
    return _triangle_to_matrix({r["k"]: r["g"] for r in rows}, dim)


def read_dsir_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge a DSIR ``stream_state`` dir (``sampling.dsir_bin_counts``
    per batch) into one bin-count table: per-bucket sums across the
    batch partitions (__b, c_t, c_r)."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("__b")
        .agg(F.sum("c_t").alias("c_t"), F.sum("c_r").alias("c_r"))
    )


def read_word_count_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge a word-count ``stream_state`` dir (``wordpiece.corpus_words``
    per batch) into one ``(w, c)`` frequency table: per-word sums
    across the batch partitions."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("w")
        .agg(F.sum("c").alias("c"))
    )
