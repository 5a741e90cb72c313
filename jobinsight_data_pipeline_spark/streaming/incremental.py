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

from jobinsight_data_pipeline_spark.schemas import RAW_JOBS
from jobinsight_data_pipeline_spark.sources.lake import ParquetLake


def stream_raw_ingest(
    spark: SparkSession,
    raw_dir: str,
    lake: ParquetLake,
    checkpoint_dir: str,
    run_ts: dt.datetime,
    process_dwh: bool = True,
    available_now: bool = True,
    dwh_stats: bool = True,
):
    """Stream crawler output (parquet drops in ``raw_dir``) into the
    warehouse: each micro-batch runs ingest → staging derive → dim/fact
    merges via the batch plans (idempotent, so at-least-once is safe).

    ``available_now=True`` drains existing files and stops — the testable
    / cron-compatible trigger; False runs continuously.
    """
    from jobinsight_data_pipeline_spark.plans.pipeline import (
        ingest_raw,
        run_raw_to_staging,
        run_staging_to_dwh,
    )

    stream = (
        spark.readStream.schema(RAW_JOBS)
        .option("maxFilesPerTrigger", 16)
        .parquet(raw_dir)
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

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    max_files_per_trigger: int = 1,
):
    """Exactly-once streaming deduplication with BOUNDED state — the
    streaming twin of operators/dedup.exact_dedup.

    ``dropDuplicatesWithinWatermark`` keeps one state row per key and
    EVICTS it once the watermark passes (plain streaming dropDuplicates
    retains state forever — a leak at 100 TB/day; the watermark variant
    is the scale-correct choice: duplicates in real pipelines arrive
    close together, so state size tracks the lateness bound, not history).
    Rows flow to a native parquet file sink in append mode; the
    checkpoint makes re-runs exactly-once. ``max_files_per_trigger=1``
    forces one micro-batch per dropped file so cross-batch duplicate
    state is actually exercised.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
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
    max_files_per_trigger: int = 1,
):
    """Streaming crawl ingestion from JSON-Lines drops — the streaming
    twin of ``sources/jsonl.read_jsonl``: a text readStream parsed with
    the SAME permissive ``from_json`` + corrupt-record options, landing
    in ONE unified parquet sink that carries the data columns plus
    ``_corrupt_record``. Clean view = filter corrupt IS NULL; quarantine
    view = the complement — and because a single native file sink is
    exactly-once under its checkpoint, neither view can double-count on
    retry (a clean/quarantine two-sink split via foreachBatch would
    demote both to at-least-once).

    Blank lines are skipped like the json datasource does.
    ``max_files_per_trigger=1`` gives one micro-batch per dropped shard,
    the cross-batch behavior tests want exercised."""
    from pyspark.sql.types import StringType, StructField, StructType

    full = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    parsed = F.from_json(
        F.col("value"),
        full,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(raw_dir)
        .filter(F.length(F.trim(F.col("value"))) > 0)
        .select(parsed.alias("_p"))
        .select("_p.*")
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
    max_files_per_trigger: int = 1,
):
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

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


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
    max_files_per_trigger: int = 1,
):
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

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


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
    max_files_per_trigger: int = 1,
):
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

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cms_build(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    keys_of: Callable[[DataFrame], DataFrame],
    key_col: str = "key",
    depth: int = 4,
    width: int = 1024,
    salt: str = "",
    max_files_per_trigger: int = 1,
):
    """Streaming count-min sketch: each micro-batch's keys
    (``keys_of(batch)``, e.g. a tokenize-explode) sketch into a
    ``depth×width`` cell table written to ``state_dir/batch=<epoch>``,
    and the corpus-wide sketch is the cell-wise SUM over all batch
    partitions (``operators/sketches.cms_build`` mergeability — proven
    by test, pinned by the shared-oracle gate).

    This is the streaming aggregation shape mergeable sketches were
    built for, and it is EXACTLY-once without a merge sink: the
    per-batch write overwrites its own ``batch=<epoch>`` partition, so
    a foreachBatch replay is idempotent (contrast the documented
    at-least-once caveat on ``stream_incremental_dedup``'s append
    sink); batch order is irrelevant because cell sums commute. State
    per batch is ≤ depth×width rows regardless of batch size — a
    billion-token day and a thousand-token day cost the same bytes.
    """
    from jobinsight_data_pipeline_spark.operators.sketches import cms_build

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        cells = cms_build(keys_of(batch_df), key_col, depth, width, salt)
        cells.write.mode("overwrite").parquet(
            f"{state_dir}/batch={epoch_id}"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cms_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge a ``stream_cms_build`` state dir into one sketch: cell-wise
    sum across the batch partitions (row_idx, bucket, cnt)."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_histogram_build(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    group_col: str = "event_type",
    lo: float = 0.0,
    hi: float = 1024.0,
    buckets: int = 256,
    max_files_per_trigger: int = 1,
):
    """Streaming fixed-grid histogram — the EIGHTH mergeable-state
    shape (quantiles): each micro-batch reduces to its
    ``(group, bucket, cnt)`` histogram (operators/sketches.
    histogram_state) written to ``state_dir/batch=<epoch>``, and the
    corpus-wide histogram is the cell-wise SUM over all batch
    partitions — from which any quantile extracts at grid resolution
    (histogram_quantiles) without ever re-sorting history. Same
    exactly-once discipline as ``stream_cms_build``: the per-batch
    write overwrites its own partition (replay-idempotent), batch
    order is irrelevant because cell sums commute, and state per batch
    is ≤ groups × K rows regardless of batch size. This is the
    percentile-drift monitor a 100-TB text pipeline runs per drop
    (doc-length / quality-score percentiles) at fixed state cost."""
    from jobinsight_data_pipeline_spark.operators.sketches import (
        histogram_state,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        cells = histogram_state(
            batch_df, value_col, group_col, lo, hi, buckets
        )
        cells.write.mode("overwrite").parquet(
            f"{state_dir}/batch={epoch_id}"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_histogram_state(
    spark: SparkSession, state_dir: str, group_col: str = "event_type"
) -> DataFrame:
    """Merge a ``stream_histogram_build`` state dir into one histogram:
    cell-wise sum across the batch partitions."""
    from jobinsight_data_pipeline_spark.operators.sketches import (
        histogram_merge,
    )

    return histogram_merge(spark.read.parquet(state_dir), group_col)


def stream_first_seen(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
    max_files_per_trigger: int = 1,
):
    """Streaming per-user first-seen state — the min-mergeable twin of
    ``stream_cms_build``: each micro-batch reduces to (id, min ts) and
    writes its own ``batch=<epoch>`` partition (overwrite → replay-
    IDEMPOTENT, true exactly-once); the corpus-wide first-seen table is
    the per-id MIN across partitions, exact on any batch order because
    min commutes. This is the state behind incremental cohort
    assignment, new-user counting, and first-touch attribution over an
    unbounded stream — per batch it costs ≤ distinct-ids rows."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.groupBy(id_col).agg(F.min(ts_col).alias(ts_col)).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/batch={epoch_id}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_first_seen(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Merge a ``stream_first_seen`` state dir: per-id min across the
    batch partitions."""
    return (
        spark.read.parquet(state_dir)
        .groupBy(id_col)
        .agg(F.min(ts_col).alias(ts_col))
    )


def stream_ohlc(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    micros_expr: str,
    key_cols: list[str],
    cents_expr: str,
    tiebreak_col: str,
    width_micros: int,
    max_files_per_trigger: int = 1,
):
    """Streaming OHLC candles — the third mergeable-state shape beside
    the sum-merged CMS and the min-merged first-seen: each micro-batch
    writes its OHLC PARTIALS (argmin/argmax structs + n/high/low) to
    its own ``batch=<epoch>`` partition (overwrite → replay-idempotent,
    true exactly-once), and final bars are ``merge_ohlc_partials`` over
    the state — exact on any batch order because every field merges by
    min/max/sum. State per batch is bars-sized, not event-sized."""
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        ohlc_partials,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        base = batch_df.selectExpr(
            f"{micros_expr} AS m",
            *key_cols,
            f"{cents_expr} AS cents",
            tiebreak_col,
        )
        ohlc_partials(
            base, "m", key_cols, "cents", tiebreak_col, width_micros
        ).write.mode("overwrite").parquet(f"{state_dir}/batch={epoch_id}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_gram_build(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 10**6,
    max_files_per_trigger: int = 1,
):
    """Streaming Gram-matrix state — the sum-mergeable PCA twin of
    ``stream_cms_build``: each micro-batch of vectors reduces to its
    flattened-upper-triangle Gram partials (operators/clustering.
    gram_partials — exact BIGINT, ≤ dim(dim+1)/2 rows whatever the
    batch size) written to ``state_dir/batch=<epoch>`` (overwrite →
    replay-IDEMPOTENT, true exactly-once); the corpus Gram is the
    per-cell SUM across partitions, exact on any batch order because
    integer sums commute — so a power-iteration fit over the merged
    state is BIT-IDENTICAL to the batch fit (the streaming ≡ batch pin
    the stream_pca gate shares O_PCA_POWER for). This is how a
    continuously-ingested corpus keeps covariance/whitening state
    without ever rescanning history."""
    from jobinsight_data_pipeline_spark.operators.clustering import (
        gram_partials,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        gram_partials(batch_df, vec_col, dim, scale).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/batch={epoch_id}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_gram_state(
    spark: SparkSession, state_dir: str, dim: int = 64
) -> list[list[int]]:
    """Merge a ``stream_gram_build`` state dir into the full symmetric
    Gram matrix: per-cell sum across batch partitions (model-sized
    collect), mirrored from the stored upper triangle."""
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


def stream_dsir_build(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_expr: str = "source IN ('src0', 'src1')",
    buckets: int = 512,
    salt: str = "dsir:",
    max_files_per_trigger: int = 1,
):
    """Streaming DSIR estimator state — the fifth mergeable-state shape
    (sum-merged bin counts): each micro-batch of documents reduces to
    its per-bucket (c_t, c_r) feature counts (operators/sampling.
    dsir_bin_counts — ≤ `buckets` rows whatever the batch size) written
    to ``state_dir/batch=<epoch>`` (overwrite → replay-IDEMPOTENT, true
    exactly-once); the corpus-wide bin table is the per-bucket SUM
    across partitions, exact on any batch order because integer counts
    commute — so selection against the merged state is BIT-IDENTICAL to
    the batch estimator (the stream_dsir gate shares O_DSIR_SELECT
    verbatim). This is how a continuously-ingested corpus keeps its
    importance-estimator state without rescanning history; only the
    final scoring pass reads documents again."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        dsir_bin_counts,
        dsir_features,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        feats = dsir_features(
            batch_df, id_col, text_col, F.expr(target_expr), buckets, salt
        )
        dsir_bin_counts(feats).write.mode("overwrite").parquet(
            f"{state_dir}/batch={epoch_id}"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_dsir_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge a ``stream_dsir_build`` state dir into one bin-count
    table: per-bucket sums across the batch partitions (__b, c_t,
    c_r)."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("__b")
        .agg(F.sum("c_t").alias("c_t"), F.sum("c_r").alias("c_r"))
    )


def stream_word_counts(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    max_files_per_trigger: int = 1,
):
    """Streaming corpus word-frequency state — the simplest sum-merged
    shape of all: each micro-batch reduces to its (w, c) lowercased
    word counts (vocabulary-bounded whatever the batch size) written to
    ``state_dir/batch=<epoch>`` (overwrite → replay-IDEMPOTENT, true
    exactly-once); the corpus table is the per-word SUM across
    partitions, exact on any batch order. This is the state a
    continuously-ingested corpus derives its TOKENIZER VOCABULARY from
    without rescanning history — the stream_wordpiece gate pins that a
    WordPiece inventory built from merged state encodes bit-identically
    to the batch derivation (shared oracle)."""
    from jobinsight_data_pipeline_spark.operators.wordpiece import (
        corpus_words,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        corpus_words(batch_df, text_col).write.mode("overwrite").parquet(
            f"{state_dir}/batch={epoch_id}"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_word_count_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge a ``stream_word_counts`` state dir into one ``(w, c)``
    frequency table: per-word sums across the batch partitions."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("w")
        .agg(F.sum("c").alias("c"))
    )


def stream_hll_build(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    buckets: int = 64,
    salt: str = "hll:",
    max_files_per_trigger: int = 1,
):
    """Streaming cardinality state — the MAX-merged shape (the sixth,
    see operators/sketches.hll_registers): each micro-batch reduces to
    its ≤ ``buckets``-row HLL register table written to
    ``state_dir/batch=<epoch>`` (overwrite → replay-IDEMPOTENT; max is
    additionally idempotent under re-delivery, the strongest replay
    story of the state family); the live register table is the
    per-bucket MAX across partitions, exact on any batch order — so
    distinct-key tracking over a continuously-ingested corpus never
    rescans history and never shuffles raw keys."""
    from jobinsight_data_pipeline_spark.operators.sketches import (
        hll_registers,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        hll_registers(batch_df, key_col, buckets, salt).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/batch={epoch_id}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge a ``stream_hll_build`` state dir into one register table:
    per-bucket MAX across the batch partitions."""
    from jobinsight_data_pipeline_spark.operators.sketches import hll_merge

    return hll_merge(spark.read.parquet(state_dir))


def stream_reservoir_build(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    weight_col: str = "n_chars",
    n: int = 25,
    salt: str = "ws:",
    max_files_per_trigger: int = 1,
):
    """Streaming weighted-reservoir state — the K-MAX-PRIORITY merged
    shape (the seventh; see operators/sampling.reservoir_state): each
    micro-batch reduces to its ≤ n-row A-ES candidate table written to
    ``state_dir/batch=<epoch>`` (overwrite → replay-idempotent, and the
    deterministic priorities make re-delivered candidates IDENTICAL
    rows that the merge's distinct absorbs). The merged draw is
    bit-identical to the batch ``weighted_sample_exact_n`` over
    everything ingested — a weighted corpus sample maintained forever
    at ≤ n rows of state per batch, never rescanning history."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reservoir_state,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        reservoir_state(
            batch_df, key_col, weight_col, n, salt
        ).write.mode("overwrite").parquet(f"{state_dir}/batch={epoch_id}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_stratified_reservoir_build(
    spark: SparkSession,
    raw_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    stratum_cols: list[str],
    key_col: str = "doc_id",
    n_per_stratum: int = 7,
    salt: str = "",
    max_files_per_trigger: int = 1,
):
    """Streaming stratified-sample state — the per-GROUP face of the
    k-extreme merged shape (operators/sampling.
    stratified_reservoir_state): each micro-batch reduces to ≤ strata×n
    candidate rows in ``state_dir/batch=<epoch>`` (overwrite →
    replay-idempotent; deterministic hash order makes re-delivered
    candidates identical rows the merge's distinct absorbs). The merged
    pick is bit-identical to the batch stratified_sample_exact over
    everything ingested — an exactly-N-per-stratum eval panel
    maintained forever without rescanning history."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        stratified_reservoir_state,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        stratified_reservoir_state(
            batch_df, stratum_cols, key_col, n_per_stratum, salt
        ).write.mode("overwrite").parquet(f"{state_dir}/batch={epoch_id}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_stratified_reservoir_state(
    spark: SparkSession,
    state_dir: str,
    stratum_cols: list[str],
    key_col: str = "doc_id",
    n_per_stratum: int = 7,
    salt: str = "",
) -> DataFrame:
    """Merge a ``stream_stratified_reservoir_build`` state dir into the
    final exactly-N-per-stratum pick (bit-identical to the batch
    stratified_sample_exact — the shared-oracle pin)."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        stratified_reservoir_sample,
    )

    return stratified_reservoir_sample(
        spark.read.parquet(state_dir),
        stratum_cols,
        key_col,
        n_per_stratum,
        salt,
    )


def read_reservoir_state(
    spark: SparkSession,
    state_dir: str,
    key_col: str = "doc_id",
    weight_col: str = "n_chars",
    n: int = 25,
) -> DataFrame:
    """Merge a ``stream_reservoir_build`` state dir into the final
    ranked draw (distinct ∪ → top-n → rank; bit-identical to the batch
    weighted_sample_exact_n — the shared-oracle pin)."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reservoir_sample,
    )

    return reservoir_sample(
        spark.read.parquet(state_dir), key_col, weight_col, n
    )
