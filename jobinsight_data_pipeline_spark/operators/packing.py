"""Sequence packing for training-data pipelines.

Pretraining consumes documents as one concatenated token stream chunked
into fixed ``capacity``-token windows. The operator computes, for every
document, its global token ``start_offset`` in that stream and the
``pack_id`` (= which window its first token lands in) — concat-and-chunk
packing semantics, a pure deterministic function of the document order.

The global running sum is the scale problem: a naive
``sum() over (order by id)`` is a single-partition global sort. The
offsets come from operators/merge's ordered-offset primitive (the same
one that numbers surrogate keys), which follows one rule: a sizing probe
picks the fused single-partition plan for inputs too small to sample,
and otherwise buckets rows by frozen split-point literals, cumsums
locally per bucket and adds broadcast prior-bucket token totals —
deterministic across re-executions, no global sort at any size. A
caller that already knows the key distribution passes ``bounds``, which
skips the probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.merge import _ordered_offsets
from jobinsight_data_pipeline_spark.operators.parallelism import ordered_collect
from jobinsight_data_pipeline_spark.operators.sampling import reserve_columns


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    capacity: int,
    order_by: list[str],
    bounds: list | None = None,
) -> DataFrame:
    """Attach ``start_offset`` (exclusive global token cumsum in
    ``order_by`` order) and ``pack_id`` (= start_offset div capacity).

    ``order_by`` must be unique per row (callers order by the document
    id) — offsets then depend only on the total order, never on the
    split points, which only steer partition balance. The probe picks
    the delta or bucketed plan unless ``bounds`` supplies split-point
    literals directly (``[]`` forces the single-partition delta plan).
    Reserves/emits ``start_offset`` and ``pack_id``.
    """
    reserve_columns(
        df, ["start_offset", "pack_id", "_pid", "_lstart", "_off"], "pack_sequences"
    )
    with_start = _ordered_offsets(
        df, F.col(tokens_col).cast("long"), order_by, "start_offset", bounds
    )
    return with_start.withColumn(
        "pack_id", F.expr(f"start_offset div {int(capacity)}")
    )


def shuffle_shard(
    df: DataFrame,
    key_col: str,
    shard_size: int,
    salt: str = "",
    bounds: list | None = None,
) -> DataFrame:
    """Deterministic global shuffle + fixed-size training shards.

    Training loaders want the corpus in a reproducible pseudo-random
    order, cut into equal ``shard_size`` files. Ordering by
    ``md5(salt || key)`` IS that permutation — engine-portable, stable
    across runs and relayouts, re-salt for an independent epoch order —
    and the global rank in it assigns ``shard = rank div shard_size``,
    ``shard_pos = rank % shard_size``.

    The rank is :func:`pack_sequences` with a unit token per row (global
    cumsum of 1s = 0-based rank), so it inherits the bucketed
    no-global-sort plan: md5-hex prefixes are ORDER-ALIGNED with the
    full hash order, so bucket-local ranks plus broadcast prior-bucket
    counts compose the exact total order with no single-partition sort
    at any size. Writers can ``partitionBy("shard")`` the result to get
    one file per shard. Reserves/emits ``rank``, ``shard``,
    ``shard_pos``.
    """
    reserve_columns(df, ["_h", "_one", "rank", "shard", "shard_pos"], "shuffle_shard")
    hashed = df.withColumn(
        "_h", F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    ).withColumn("_one", F.lit(1))
    packed = pack_sequences(
        hashed, "_one", shard_size, ["_h", key_col], bounds
    )
    return (
        packed.withColumn("rank", F.col("start_offset"))
        .withColumn("shard", F.col("pack_id").cast("int"))
        .withColumn("shard_pos", (F.col("rank") % shard_size).cast("int"))
        .drop("_h", "_one", "start_offset", "pack_id")
    )


def shard_manifest(
    df: DataFrame,
    key_col: str,
    content_col: str,
    shard_size: int,
    salt: str = "",
) -> DataFrame:
    """Per-shard integrity manifest for a sharded training set: row
    count, an order-insensitive content checksum, and the rank range —
    the artifact a training run pins so any later re-materialization of
    the same corpus version can be verified shard-by-shard.

    The checksum is ``bit_xor`` over the 8-hex md5 prefix of each row's
    content: engine-portable (any engine agrees on md5), associative and
    commutative (computable with map-side partial aggregation, immune to
    row order), and overflow-free (unlike a sum under ANSI arithmetic).
    One shuffle: the groupBy on shard after :func:`shuffle_shard`'s
    assignment."""
    sharded = shuffle_shard(df, key_col, shard_size, salt)
    chk = F.conv(
        F.substring(F.md5(F.col(content_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        sharded.withColumn("_chk", chk)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("_chk").alias("content_checksum"),
            F.min("rank").alias("rank_min"),
            F.max("rank").alias("rank_max"),
        )
    )


def pack_spans(
    df: DataFrame,
    tokens_col: str,
    capacity: int,
    order_by: list[str],
    bounds: list | None = None,
) -> DataFrame:
    """Per-pack DOCUMENT SPAN manifest — the attention-boundary sidecar
    every packing consumer needs (block-diagonal masks / position-id
    resets at document boundaries inside a packed window; cross-document
    attention is off in most modern pretraining recipes).

    For each document, :func:`pack_sequences` supplies its global
    ``[start_offset, start_offset + n)`` token interval; this emits one
    row per (pack, document) intersection: ``(seq_id, <order_by cols>,
    start_in_pack, span_len)``, where a document straddling a capacity
    boundary appears in each pack it touches with the clipped span.
    Σ span_len per pack = the pack's token count; concatenating spans
    in (seq_id, start_in_pack) order reproduces :func:`materialize_packs`'
    windows exactly — WITHOUT the token-level explode: the fan-out here
    is spans (≈ docs + packs), orders of magnitude below tokens, so the
    manifest is cheap to regenerate even when the packed ids already
    shipped. All-integer arithmetic. Zero-token documents emit no span.
    """
    with_off = pack_sequences(
        df, tokens_col, capacity, order_by, bounds=bounds
    )
    cap = int(capacity)
    n = F.col(tokens_col).cast("long")
    off = F.col("start_offset")
    first_w = F.expr(f"start_offset div {cap}")
    last_w = F.expr(
        f"(start_offset + CAST({tokens_col} AS BIGINT) - 1) div {cap}"
    )
    spans = with_off.filter(n > 0).select(
        *order_by,
        off.alias("_off"),
        n.alias("_n"),
        F.explode(F.sequence(first_w, last_w)).alias("seq_id"),
    )
    pack_lo = F.col("seq_id") * F.lit(cap)
    s = F.greatest(F.col("_off"), pack_lo)
    e = F.least(F.col("_off") + F.col("_n"), pack_lo + F.lit(cap))
    return spans.select(
        "seq_id",
        *order_by,
        (s - pack_lo).cast("long").alias("start_in_pack"),
        (e - s).cast("long").alias("span_len"),
    )


def materialize_packs(
    encoded: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    ids_col: str = "ids",
    bounds: list | None = None,
) -> DataFrame:
    """Materialize the actual fixed-``capacity`` training sequences from
    encoded documents — the final assembly step after tokenization and
    offset computation: concatenate every document's id stream in
    ``id_col`` order and cut it into windows.

    :func:`pack_sequences` supplies each document's global start offset
    (bucketed no-global-sort cumsum); a token-level posexplode then gives
    every token its global position, and windows re-assemble with an
    order-pinned aggregation on (seq_pos, id). The token-level explode is
    the honest cost — one row per corpus token, exactly the data volume a
    training-shard writer must emit anyway — and it shuffles once, on the
    sequence id. The tail window is short; all others hold exactly
    ``capacity`` ids. Returns (seq_id, n_tokens, ids).
    """
    toks = encoded.withColumn("_n", F.size(ids_col))
    packed = pack_sequences(toks, "_n", capacity, [id_col], bounds)
    g = packed.select(
        F.col("start_offset"),
        F.posexplode(ids_col).alias("_p", "_tid"),
    ).select(
        (F.col("start_offset") + F.col("_p")).alias("_gpos"), "_tid"
    )
    return (
        g.withColumn("seq_id", F.expr(f"_gpos div {int(capacity)}"))
        .withColumn("seq_pos", (F.col("_gpos") % capacity).cast("int"))
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            ordered_collect("seq_pos", "_tid").alias("ids"),
        )
    )


def bucket_manifest(
    df: DataFrame,
    key_col: str,
    content_col: str,
    buckets: int = 256,
    salt: str = "",
) -> DataFrame:
    """Append-STABLE dataset manifest: rows group by their key's
    engine-portable md5 bucket (never by rank), so editing one document
    perturbs exactly one bucket's (count, checksum) — the property that
    makes two corpus versions DIFFABLE. :func:`shard_manifest`'s
    rank-based shards shift wholesale when a row is inserted; use that
    for pinning a frozen release, this for comparing releases.

    One partial-aggregating groupBy on a bounded key space. Returns
    (bucket, n_rows, content_checksum) — bit_xor over 8-hex md5 row
    prefixes, order-insensitive and engine-portable."""
    from jobinsight_data_pipeline_spark.operators.sampling import hash_bucket

    chk = F.conv(
        F.substring(F.md5(F.col(content_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        df.withColumn("bucket", hash_bucket(F.col(key_col), buckets, salt))
        .withColumn("_chk", chk)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("_chk").alias("content_checksum"),
        )
    )


def manifest_diff(a: DataFrame, b: DataFrame, key_col: str = "bucket") -> DataFrame:
    """Diff two manifests (old ``a`` → new ``b``): full-outer join on the
    bucket/shard id, status per bucket — ``added`` (only in b),
    ``removed`` (only in a), ``changed`` (count or checksum moved),
    ``unchanged``. The release-verification step: after re-materializing
    a dataset version, everything must read ``unchanged``; after an
    incremental update, exactly the touched buckets read ``changed``."""
    fa = a.select(
        F.col(key_col),
        F.col("n_rows").alias("_na"),
        F.col("content_checksum").alias("_ca"),
    )
    fb = b.select(
        F.col(key_col),
        F.col("n_rows").alias("_nb"),
        F.col("content_checksum").alias("_cb"),
    )
    status = (
        F.when(F.col("_na").isNull(), F.lit("added"))
        .when(F.col("_nb").isNull(), F.lit("removed"))
        .when(
            (F.col("_na") != F.col("_nb")) | (F.col("_ca") != F.col("_cb")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return fa.join(fb, key_col, "full_outer").select(
        key_col,
        status.alias("status"),
        F.coalesce("_na", F.lit(0)).alias("n_rows_old"),
        F.coalesce("_nb", F.lit(0)).alias("n_rows_new"),
    )


def length_buckets(
    df: DataFrame,
    tokens_col: str,
    boundaries: list[int],
) -> DataFrame:
    """Length-bucketed batching assignment — the padding-efficiency
    planner: each row gets the SMALLEST boundary >= its token count as
    ``bucket_cap`` (the sequence length its batch would pad to) and the
    tokens wasted at that cap (``pad_waste``). Rows LONGER than every
    boundary get NULL cap and zero waste — they can't batch at these
    caps; chunk them first (textstats.chunk_documents) or extend the
    boundary ladder.

    Batching by length bucket instead of padding everything to the
    global max is the standard inference/training micro-batch trick;
    the per-bucket waste sums this computes ARE the decision data for
    choosing the ladder. One scan-fused projection — the boundary list
    is a literal array, assignment is ``array_min(filter(...))``, no
    shuffle, no UDF.
    """
    if not boundaries or sorted(boundaries) != list(boundaries):
        raise ValueError(
            "length_buckets: boundaries must be a non-empty ascending list"
        )
    reserve_columns(df, ["bucket_cap", "pad_waste"], "length_buckets")
    lits = ",".join(str(int(b)) for b in boundaries)
    cap = F.expr(
        f"array_min(filter(array({lits}), b -> b >= {tokens_col}))"
    ).cast("int")
    out = df.withColumn("bucket_cap", cap)
    return out.withColumn(
        "pad_waste",
        F.when(
            F.col("bucket_cap").isNotNull(),
            (F.col("bucket_cap") - F.col(tokens_col)).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
