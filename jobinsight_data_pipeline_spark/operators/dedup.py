"""Deduplication operators: exact and near-duplicate, at 100 TB posture.

- exact: hash-groupBy (one shuffle on a 16-byte key, never on raw text);
- n-gram Jaccard: shingle inverted index → candidate pair join → exact
  verify. The pair join is the classic quadratic risk: hot shingles are
  capped (``max_shingle_freq``) exactly like production near-dup systems
  drop ubiquitous shingles;
- MinHash+LSH: banded signatures via xxhash64 (deterministic, JVM-native,
  no UDF) so only same-band-bucket docs are joined — the scale path where
  all-pairs verify is impossible;
- SimHash: ``bits``-wide sign-aggregated token hashes; pairs within
  hamming ≤ r come from r + 1 near-even bit bands (complete by
  pigeonhole) and are verified with bit_count(xor).

Every banded candidate join here and in ``similarity`` (hyperplane LSH)
runs through ``_banded_join``, which keeps each pair once, in its first
agreeing band.

All operators return DataFrames of survivor/duplicate-pair rows; nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu
from jobinsight_data_pipeline_spark.operators.textstats import tokens


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id doc per identical text (md5 key). Returns
    (content_hash, survivor_id, dup_count)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("dup_count"),
        )
    )


def exact_dedup_keep_best(
    df: DataFrame, id_col: str, text_col: str, score_col: str
) -> DataFrame:
    """Exact dedup with QUALITY-aware survivor selection: per identical
    text, keep the HIGHEST-``score_col`` copy (ties → min id) — the
    production rule when duplicates arrive from sources of different
    quality (re-crawls, mirrors, cleaned vs raw variants) and "first
    seen" is the wrong copy to keep. ``score_col`` must be a
    deterministic integer/exact score (the classifier micro-margin, a
    source priority rank) — a float score reintroduces the cross-engine
    comparison hazards the integer discipline exists to kill.

    Same shape as :func:`exact_dedup` — one partial-aggregating groupBy
    on the 16-byte content hash; the survivor argmax rides in the same
    aggregation as a (score, −id) struct max, so there is no window and
    no second shuffle. Returns (content_hash, survivor_id,
    survivor_score, dup_count)."""
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"), (-F.col(id_col)).alias("negid")
        )
    )
    return (
        df.select(
            F.col(id_col),
            F.col(score_col),
            F.md5(F.col(text_col)).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            (-best.getField("negid")).alias("survivor_id"),
            best.getField("s").alias("survivor_score"),
            F.count("*").alias("dup_count"),
        )
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    Built as zipped shifted slices of the token array (one pass, no
    shuffle) — ~3x faster than per-index element_at lambdas, which pay
    interpreted higher-order-function overhead per shingle."""
    toks = tokens(text_col)
    sz = F.size(toks)
    width = sz - (n - 1)
    shifted = [F.slice(toks, i + 1, width).alias(f"g{i}") for i in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda x: F.concat_ws(" ", *[x[f"g{i}"] for i in range(n)]),
    )
    return (
        # shingling is CPU-dense map work fused into the scan stage —
        # widen when the source's row-group count under-parallelizes it
        widen_for_cpu(df)
        .filter(sz >= n)
        .select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def _drop_hot_shingles(sh: DataFrame, max_shingle_freq: int | None) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap BEFORE any
    pair join. The inverted-index self-join emits ~df² candidate rows per
    shingle; one boilerplate 3-gram in 10⁶ docs would yield ~5·10¹¹ pairs
    on a single join key — the classic skew bomb on a zipfian web corpus.
    Capping is lossy one-sided: only similarity carried by ubiquitous
    boilerplate shingles can be missed (capped result ⊆ uncapped — pinned
    by test_ngram_freq_cap_subset).

    Implemented as a count-over-window on the shingle (no ORDER BY — a
    whole-partition frame, so no sort): one shuffle per self-join side
    in the initial plan, which AQE's runtime exchange reuse collapses
    (the two sides are identical subtrees) — measured at parity with
    the uncapped plan at sf0.1 (1.21s vs 1.36s best-of-3; a groupBy +
    left-semi alternative costs 2.34s, shuffling the full index twice
    with no reuse). Scale note: the window
    DOES concentrate a hot shingle's rows on one task — but for a single
    LINEAR count-and-filter pass (df rows read once, hot rows dropped in
    place), which is exactly the bounded work that prevents the df² join
    those rows would otherwise feed."""
    if max_shingle_freq is None:
        return sh
    return _cap_key_freq(sh, "shingle", max_shingle_freq)


def _cap_key_freq(df: DataFrame, key: str, cap: int) -> DataFrame:
    """Generic hot-key frequency cap: count-over-window (see
    _drop_hot_shingles for the plan rationale — AQE exchange reuse
    collapses the shuffle across the self-join's twin subtrees; measured
    2× faster than a groupBy + anti-join at sf0.1)."""
    w = Window.partitionBy(key)
    return (
        df.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= cap)
        .drop("_df")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = 100_000,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold.

    ``max_shingle_freq`` bounds the candidate join: shingles appearing in
    more than that many documents are dropped from the inverted index
    (set sizes and the Jaccard denominator still use the FULL shingle
    sets, so reported similarities only ever UNDERestimate and the capped
    pair set is a subset of the exact one). The default (10⁵) is a no-op
    below ~10⁵ docs — exact at test scale — while bounding any one join
    key to ~10¹⁰ candidate pairs at corpus scale; pass ``None`` for
    strict exact mode. MinHash-LSH (``minhash_lsh_pairs``) is the true
    100 TB path.
    """
    sh = shingles(df, id_col, text_col, n)

    # |a ∩ b| falls straight out of the inverted-index join: count
    # matching shingles per pair. No collect_set materialization, no
    # array_intersect verify, and the per-doc size frame is small
    # enough to broadcast — two shuffles total (index join + pair
    # count) instead of four (measured 6.2s → 2.5s at sf0.1).
    # Sizes come from the FULL shingle sets (exact denominators);
    # only the index join is frequency-capped.
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    sh = _drop_hot_shingles(sh, max_shingle_freq)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    # no STATIC broadcast hint on the per-doc size frame: AQE's
    # runtime-measured size gate picks broadcast when sizes is
    # genuinely small (it is, at any corpus this exact mode should
    # see) and falls back to a shuffled join on a billion-doc
    # input instead of OOMing the driver.
    # Measured at sf0.1: identical plan (AQE converts to broadcast)
    # and identical wall time vs the old forced hint.
    return (
        inter.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .filter(
            F.least("sz_a", "sz_b") >= F.lit(threshold) * F.greatest("sz_a", "sz_b")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_containment_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 100_000,
) -> DataFrame:
    """Decontamination: benchmark/test documents whose n-gram shingle set
    is substantially COVERED by some training document —
    ``|S(test) ∩ S(train)| / |S(test)| ≥ threshold``. Asymmetric on
    purpose: a short eval prompt embedded verbatim inside a long training
    page has low Jaccard but containment ≈ 1, which is exactly the leak
    decontamination must catch (the reason eval-overlap checks use
    containment, not symmetric similarity).

    Same scale shape as ``ngram_jaccard_pairs``: inverted-index join on
    the shingle, intersection counted straight off the join, only the
    small per-test-doc size frame broadcast. ``max_shingle_freq`` caps
    the TRAIN-side document frequency per shingle before the join (the
    train corpus is the web-scale side where boilerplate shingles
    detonate the join); test-doc set sizes stay FULL, so containment
    only underestimates and the capped result is a subset of exact.
    Default 10⁵ is exact below ~10⁵ train docs; ``None`` = strict exact.
    For web-scale train corpora, bucket the join through MinHash bands
    first and verify candidates with this.
    """
    tr = shingles(train, id_col, text_col, n).withColumnRenamed("doc", "train_id")
    te = shingles(test, id_col, text_col, n).withColumnRenamed("doc", "test_id")
    sizes = te.groupBy("test_id").agg(F.count("*").alias("sz"))
    tr = _drop_hot_shingles(tr, max_shingle_freq)
    inter = (
        te.join(tr, "shingle")
        .groupBy("test_id", "train_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(F.broadcast(sizes), "test_id")
        .withColumn("containment", F.round(F.col("inter") / F.col("sz"), 4))
        .filter(F.col("containment") >= threshold)
        .select("test_id", "train_id", "containment")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per doc: for seed i, min(xxhash64(i, shingle)).
    Deterministic (xxhash64), JVM-native, one shuffle (groupBy doc)."""
    sh = shingles(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc").agg(*aggs)


def _band_bucket_array(n_hashes: int, bands: int, key) -> Column:
    """The one MinHash band-key builder: ``key`` collapses each band's
    signature components (columns h0..hN, in seed order) into one band
    key; returns the array of band keys."""
    if n_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} (trailing "
            f"signature components would silently drop out of every band)"
        )
    r = n_hashes // bands
    return F.array(
        *[key([F.col(f"h{b * r + j}") for j in range(r)]) for b in range(bands)]
    )


def _bit_bands(bits: int, bands: int):
    """Band keys of a ``bits``-wide hash column: ``bands`` near-even bit
    slices (the first ``bits % bands`` one bit wider), low bits first,
    returned as ``h -> array(slice_0, ...)``. A full-width band is the
    column itself, so no ``2^64 - 1`` mask literal is ever built."""
    base, rem = divmod(bits, bands)
    cuts = [j * base + min(j, rem) for j in range(bands + 1)]
    return lambda h: F.array(
        *[
            h
            if hi - lo >= bits
            else F.shiftright(h, lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1))
            for lo, hi in zip(cuts, cuts[1:])
        ]
    )


def _banded_join(
    a: DataFrame,
    b: DataFrame,
    src: str,
    bands: int,
    keys=lambda k: k,
    lt: str | None = None,
) -> DataFrame:
    """The one banded-candidate join. Each side's band keys are
    ``keys(src)`` — a bit slicer over a hash/sketch column, or the
    identity when ``src`` already holds the band-key array. Both sides
    posexplode to (band, bucket) and equi-join on it (plus
    ``a.<lt> < b.<lt>`` for self-joins); the result keeps the sides'
    columns under aliases ``a`` and ``b``.

    A pair agreeing on several bands matches once per agreeing band, so
    only the row whose ``a.band`` is the FIRST band with equal keys on
    both sides survives: exactly one row per pair, decided by a filter
    inside the join's stage instead of a distinct behind an Exchange
    (linear CASE, first match wins)."""

    def explode(df: DataFrame) -> DataFrame:
        bucket = F.posexplode(keys(F.col(src))).alias("band", "bucket")
        return df.select("*", bucket)

    on = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.bucket") == F.col("b.bucket")
    )
    if lt is not None:
        on = on & (F.col(f"a.{lt}") < F.col(f"b.{lt}"))
    # each side's key array is built once (every Column call is a py4j
    # round trip: rebuilding it per band cost lsh_cosine_topk ~0.1 s per
    # call at sf0.1 on 4 cores); the optimizer folds array(...)[j] to key j
    ka, kb = keys(F.col(f"a.{src}")), keys(F.col(f"b.{src}"))
    first = None
    for j in range(bands):
        agree = ka[j] == kb[j]
        first = F.when(agree, j) if first is None else first.when(agree, j)
    ea = explode(a)
    eb = ea if b is a else explode(b)
    return ea.alias("a").join(eb.alias("b"), on).filter(F.col("a.band") == first)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: docs sharing any band
    bucket. Returns (doc_a, doc_b, est_jaccard) where est = fraction of
    matching minhash components — verify with ngram_jaccard_pairs on the
    candidates when exactness matters."""
    band_keys = _band_bucket_array(n_hashes, bands, lambda c: F.xxhash64(*c))
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n).cache()
    keyed = sig.select("doc", band_keys.alias("keys"))
    cand = _banded_join(keyed, keyed, "keys", bands, lt="doc").select(
        F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
    )
    sa = sig.select(F.col("doc").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)])
    sb = sig.select(F.col("doc").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)])
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(n_hashes)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", F.round(matches / F.lit(n_hashes), 4))
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_signatures_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures from ENGINE-PORTABLE hashes: hash i's value
    for a shingle is the (i mod 4)-th 32-bit word of
    ``md5('mh<i div 4>:' || shingle)`` — ceil(n/4) salted md5s yield n
    independent 32-bit words, every one replayable in DuckDB
    (``('0x' || substring(md5(...), w*8+1, 8))::BIGINT``). This puts
    the WHOLE MinHash-LSH pipeline — signatures, bands, candidate set,
    and therefore its recall/precision against exact Jaccard — under a
    full exact cross-engine oracle (the md5_token_hash60 move, applied
    to MinHash; `minhash_signatures`' xxhash64 stays the scale path:
    one 64-bit mix per (seed, shingle) vs an md5 per 4 seeds here).
    Same plan shape: shingle explode + ONE groupBy(doc) with n min
    aggregates (the repeated md5 calls collapse under codegen
    common-subexpression elimination — 4 words share one digest)."""
    sh = shingles(df, id_col, text_col, shingle_n)
    aggs = []
    for i in range(n_hashes):
        salt, word = i // 4, i % 4
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"mh{salt}:"), F.col("shingle"))),
                word * 8 + 1,
                8,
            ),
            16,
            10,
        ).cast("long")
        aggs.append(F.min(h).alias(f"h{i}"))
    return sh.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Banded LSH candidates off :func:`minhash_signatures_portable`:
    the band bucket is the '|'-joined row values in seed order (a
    portable string key; `minhash_lsh_pairs`' xxhash64 band compression
    stays the scale path). Returns distinct (doc_a, doc_b), doc_a <
    doc_b — the candidate set itself, exactly replayable, so candidate
    RECALL/PRECISION against exact Jaccard ground truth can sit under
    a gate hash (q_dedup_recall_eval). Pass a prebuilt ``signatures``
    frame to band the SAME signature build several ways (the
    q_dedup_band_curve pattern) without recomputing it."""
    band_keys = _band_bucket_array(
        n_hashes, bands, lambda c: F.concat_ws("|", *[h.cast("string") for h in c])
    )
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures_portable(
            df, id_col, text_col, n_hashes, shingle_n
        )
    )
    keyed = sig.select("doc", band_keys.alias("keys"))
    return _banded_join(keyed, keyed, "keys", bands, lt="doc").select(
        F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
    )


def md5_token_hash60(c) -> "F.Column":
    """60-bit token hash from the first 15 hex chars of md5 — the
    engine-portable alternative to xxhash64 (DuckDB computes the same
    value via ``CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)``),
    which puts the ENTIRE simhash pipeline under an exact cross-engine
    oracle (catalog/textml.py:q_simhash_pairs). xxhash64 stays the
    production default: one JVM intrinsic vs md5's digest + hex parse."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """``bits``-wide SimHash per doc, fully native: explode tokens, hash
    each, sum per-bit signs, reassemble. Returns (doc, simhash).
    ``token_hash`` swaps the token hash function (default xxhash64);
    ``bits`` must not exceed the hash's usable width."""
    hash_col = (
        token_hash(F.col("w")) if token_hash is not None else F.xxhash64("w")
    )
    tok = widen_for_cpu(df).select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("w")
    ).withColumn("h", hash_col)
    # branch-free per-bit tallies: sum the raw bit and compare against
    # the token count (sum(±1) > 0 ⟺ 2·sum(bit) > n) — ~30% faster than
    # when(+1/-1) sums and far cheaper to codegen (measured at sf0.1)
    bit_aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(bits)
    ]
    sums = tok.groupBy("doc").agg(F.count(F.lit(1)).alias("n"), *bit_aggs)
    sig = None
    for b in range(bits):
        bit = (2 * F.col(f"b{b}") > F.col("n")).cast("long")
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sums.select("doc", sig.alias("simhash"))


def _hamming_join(
    a: DataFrame,
    b: DataFrame | None,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    bits: int,
    out: tuple[str, str],
) -> DataFrame:
    """Banded-COMPLETE hamming join of ``a`` against ``b`` (``None``:
    against itself, pairs with id_a < id_b): (max_hamming + 1) near-even
    bands, so any pair within hamming ≤ max_hamming agrees on ≥1 band
    (pigeonhole); candidates verify with bit_count(xor). Output:
    (out[0], out[1], hamming)."""
    bands = max_hamming + 1
    if not 1 <= bands <= bits:
        raise ValueError(f"max_hamming must be in [0, {bits - 1}], got {max_hamming}")

    def side(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))

    sa = side(a)
    xor = F.col("a._h").bitwiseXOR(F.col("b._h"))
    return (
        _banded_join(
            sa,
            sa if b is None else side(b),
            "_h",
            bands,
            keys=_bit_bands(bits, bands),
            lt="_id" if b is None else None,
        )
        .select(
            F.col("a._id").alias(out[0]),
            F.col("b._id").alias(out[1]),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded COMPLETE: the
    ``bits`` sketch bits split into (max_hamming + 1) near-even bands, so
    any pair within hamming ≤ max_hamming agrees exactly on ≥1 band
    (pigeonhole) — join per band bucket, verify exact hamming with
    bit_count(xor). Recall is 1.0 by construction (pinned by
    test_simhash_banding_complete); precision is 1.0 because candidates
    are hamming-verified.

    Scale note: band width is bits // bands, and bucket count is 2^width —
    wider radii mean narrower bands and denser buckets (max_hamming=3 →
    4×16-bit bands, the Manku et al. WWW'07 web-crawl setting;
    max_hamming=8 → 9×7-bit bands whose ≤128-value buckets collide far
    more). Prefer small radii at corpus scale, or pre-partition by a
    coarse key before widening the radius."""
    sig = simhash(df, id_col, text_col, bits=bits, token_hash=token_hash).cache()
    return _hamming_join(
        sig, None, "doc", "simhash", max_hamming, bits, ("doc_a", "doc_b")
    )


def hamming_near_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs over ANY (id, fixed-width hash) frame by the same
    banded-COMPLETE pigeonhole join :func:`simhash_near_pairs` uses for
    text sketches (any pair within hamming ≤ max_hamming agrees on ≥1
    of max_hamming+1 bands; candidates verified with bit_count(xor), so
    recall AND precision are 1.0 by construction): the shared machinery
    behind image perceptual-hash dedup (dHash columns from
    multimodal.extract_image_dhash) and any other fingerprint column.
    Output: (id_a, id_b, hamming) with id_a < id_b. Same scale note as
    the simhash form — wider radii mean denser band buckets."""
    return _hamming_join(
        sig, None, id_col, hash_col, max_hamming, bits, ("id_a", "id_b")
    )


def hamming_near_join(
    new: DataFrame,
    state: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Day-N fingerprints against a PERSISTED fingerprint history — the
    banded-COMPLETE cross-frame twin of :func:`hamming_near_pairs` (the
    ``incremental_dedup`` lifecycle for perceptual hashes): the new
    batch and the history both explode to (band, bucket) keys, the
    equi-join on the band key prunes candidates (any pair within
    hamming ≤ max_hamming shares ≥1 band — pigeonhole), and candidates
    verify with bit_count(xor). Output: (id_new, id_hist, hamming),
    every within-radius cross pair. History cost per day rides the NEW
    batch's size — the state is never self-joined."""
    return _hamming_join(
        new, state, id_col, hash_col, max_hamming, bits, ("id_new", "id_hist")
    )


def positional_windows(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Every n-token window WITH its 0-based start position:
    (doc, pos, whash) — the positional sibling of ``shingles`` (same
    zipped-shifted-slices build, but keeping duplicates and order).
    The window text never leaves the scan stage: only its md5 (an
    engine-portable 16-byte key) is emitted."""
    toks = tokens(text_col)
    sz = F.size(toks)
    width = sz - (n - 1)
    shifted = [F.slice(toks, i + 1, width).alias(f"g{i}") for i in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda x: F.md5(F.concat_ws(" ", *[x[f"g{i}"] for i in range(n)])),
    )
    return (
        widen_for_cpu(df)
        .filter(sz >= n)
        .select(F.col(id_col).alias("doc"), F.posexplode(grams).alias("pos", "whash"))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): hash every k-token window, then keep the minimum hash of
    each run of ``window`` consecutive positions (rightmost on ties).
    Guarantees any shared token run of length ≥ k + window - 1 yields at
    least one IDENTICAL selected fingerprint in both documents, at
    density ~2/(window+1) — the standard local-fingerprint scheme for
    partial-overlap/plagiarism detection, complementing the whole-doc
    ``fingerprint`` (operators/textstats.py) and the exact
    ``duplicate_spans`` pass.

    Fully native and shuffle-bounded: one pass emits positional window
    hashes (scan-fused), one window-function shuffle per doc computes
    the per-run minimum — min over a ``struct(hash, -pos)`` makes the
    rightmost-tie selection a single expression, no self-join. The
    60-bit md5-prefix hash is the engine-portable twin (the DuckDB
    oracle replays it bit-for-bit; see ``md5_token_hash60``).

    Returns (doc, fp_pos, fp): selected fingerprint hashes with the
    token position of the k-gram each was taken from.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    win = positional_windows(df, id_col, text_col, k)
    h = F.conv(F.substring("whash", 1, 15), 16, 10).cast("long")
    frame = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(-(window - 1), 0)
    )
    pick = F.min(F.struct(F.col("_h").alias("h"), (-F.col("pos")).alias("np"))).over(
        frame
    )
    return (
        win.withColumn("_h", h)
        .withColumn("_m", pick)
        # only full windows select (the first window ends at pos w-1)
        .filter(F.col("pos") >= window - 1)
        .select(
            "doc",
            (-F.col("_m.np")).cast("long").alias("fp_pos"),
            F.col("_m.h").alias("fp"),
        )
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = 100_000,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints —
    what the fingerprints are FOR (MOSS-style overlap detection): docs
    sharing ≥ ``min_shared`` selected fingerprints. By the winnowing
    guarantee every shared token run of length ≥ k + window - 1
    contributes a shared fingerprint, so real content overlap is caught,
    while the inverted index carries only ~2/(window+1) of the entries a
    full shingle index would — the same join shape as
    ``ngram_jaccard_pairs`` at a fraction of the shuffle volume (the
    scale trade: position-blind shingling finds ANY shared shingle;
    winnowing needs the run to be long enough to survive selection).
    ``max_fp_freq`` caps boilerplate fingerprints exactly like
    ``max_shingle_freq``. Returns (doc_a, doc_b, shared_fps).
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, window).select(
        "doc", "fp"
    ).distinct()
    if max_fp_freq is not None:
        fps = _cap_key_freq(fps, "fp", max_fp_freq)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def duplicate_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Exact repeated-substring spans — the ExactSubstr pass of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): flag every n-token window whose exact text occurs more
    than once in the corpus (including within one document), and merge a
    document's overlapping flagged windows into maximal token spans for
    removal/masking.

    Suffix arrays are the single-node tool; the distributed
    re-expression is windowed shingle counting: one pass emits
    (doc, pos, window-md5); a groupBy on the 16-byte hash finds the
    duplicated hashes (map-side partial aggregation collapses hot
    boilerplate windows before the shuffle) and a semi-join flags
    their positions; then a gaps-and-islands window per doc merges
    overlaps. The join shape is deliberate: a count-over-window
    alternative measures the same here but piles every occurrence of a
    hot window onto one sort task with no mitigation, while AQE's
    skew-join splits oversized probe partitions. Nothing is all-pairs
    and nothing collects.

    Returns (doc, span_start, span_end, n_windows): token-index spans
    [span_start, span_end) with the number of flagged windows merged
    into each.
    """
    w = positional_windows(df, id_col, text_col, n)
    dup_hashes = (
        w.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("whash")
    )
    flagged = w.join(dup_hashes, "whash", "left_semi").select("doc", "pos")
    order = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        Window.partitionBy("doc").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    islands = (
        flagged.withColumn(
            "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
        )
        .withColumn("_island", F.sum("_new").over(order))
    )
    return (
        islands.groupBy("doc", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_island")
    )


def exact_match_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 15,
    max_anchor_freq: int | None = 100_000,
) -> DataFrame:
    """Maximal aligned duplicate-substring PAIRS at minimum token
    length ``min_len`` — the suffix-array output of Lee et al. 2022's
    ExactSubstr (reference: /root/reference has no tokenizer-level
    dedup; this is the training-data extension bar), re-expressed as
    seed-and-extend anchor chaining: where ``duplicate_spans`` reports
    the positions covered by SOME duplicate, this reports WHICH two
    places match, where each starts, and exactly how long the common
    substring runs — what a suffix array's LCP walk would emit.

    Exactness: a duplicated substring of length M ≥ min_len at
    (doc_a, s_a) / (doc_b, s_b) makes all M−k+1 of its k-token windows
    match at the SAME alignment (pos_a − pos_b constant), so it appears
    as a contiguous anchor run on that diagonal and is reported with
    match_len = M; conversely a run of consecutive aligned k-window
    matches pins every covered token equal (overlapping windows at
    step 1), so reported spans are genuinely identical substrings and
    maximal on their diagonal. Same-document repeats report with
    doc_a = doc_b and pos_a < pos_b.

    Plan shape: one scan pass to positional k-window hashes, a
    partial-aggregating groupBy keeps only duplicated anchors (the
    seed set is the DUPLICATED windows only — at web scale that is a
    tiny fraction of all windows), an equi-self-join on the 16-byte
    anchor hash forms aligned pairs, and ONE window pass per
    (doc_a, doc_b, diagonal) chains consecutive anchors into maximal
    runs (gaps-and-islands; no iteration, no driver state).
    ``max_anchor_freq`` caps pathological boilerplate anchors exactly
    like ``max_shingle_freq`` in :func:`ngram_jaccard_pairs` — the
    self-join is quadratic in per-anchor multiplicity, so a hash
    occurring f times yields f·(f−1)/2 pairs; corpora that have not
    been exact-deduped first should lower the cap (Lee et al. run
    ExactSubstr after exact document dedup for the same reason). The
    cap's loss is one-sided and CONTAINED: dropping a hot anchor can
    truncate a reported span (the chain starts at the first surviving
    anchor) or drop a boilerplate-only match, never invent or extend
    one — every capped match lies inside an uncapped match on the same
    (doc_a, doc_b, diagonal), pinned by
    test_exact_match_spans_anchor_cap_subset.

    Returns (doc_a, start_a, doc_b, start_b, match_len, n_windows):
    maximal aligned matches with match_len ≥ min_len.
    """
    if min_len < k:
        raise ValueError(f"min_len must be >= k, got {min_len} < {k}")
    w = positional_windows(df, id_col, text_col, k)
    dup = (
        w.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("whash")
    )
    f = w.join(dup, "whash", "left_semi")
    if max_anchor_freq is not None:
        f = _cap_key_freq(f, "whash", max_anchor_freq)
    # Pin the surviving anchors ONCE (eager localCheckpoint): the
    # self-join consumes f twice and each alias re-ran the whole
    # scan → window-hash → dup-agg → semi-join chain (the dup agg
    # itself re-derives the windows, so the corpus was shingled 4× in
    # the physical plan). The anchor set is the DUPLICATED windows
    # only — tiny at web scale by construction (and capped) — so
    # materializing it is far cheaper than recomputing the corpus
    # passes per side.
    f = f.localCheckpoint(eager=True)
    a, b = f.alias("a"), f.alias("b")
    pairs = a.join(
        b,
        (F.col("a.whash") == F.col("b.whash"))
        & (
            (F.col("a.doc") < F.col("b.doc"))
            | ((F.col("a.doc") == F.col("b.doc")) & (F.col("a.pos") < F.col("b.pos")))
        ),
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.doc").alias("doc_b"),
        F.col("b.pos").alias("pos_b"),
        (F.col("a.pos") - F.col("b.pos")).alias("_diag"),
    )
    order = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("pos_a")
    prev = F.lag("pos_a").over(order)
    islands = pairs.withColumn(
        "_new", F.when(prev.isNull() | (F.col("pos_a") > prev + 1), 1).otherwise(0)
    ).withColumn("_island", F.sum("_new").over(order))
    from jobinsight_data_pipeline_spark.operators.components import (
        register_pins,
    )

    # the span frame reads the pinned anchor set — callers free it via
    # components.free_pins(result) after the last action (r13)
    return register_pins(
        islands.groupBy("doc_a", "doc_b", "_diag", "_island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + k).alias("match_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .filter(F.col("match_len") >= min_len)
        .select(
            "doc_a", "start_a", "doc_b", "start_b", "match_len", "n_windows"
        ),
        f,
    )


def remove_duplicate_copies(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 15,
    max_anchor_freq: int | None = 100_000,
) -> DataFrame:
    """Keep-ONE-copy ExactSubstr removal — the dedup rule Lee et al.
    2022 actually apply (and the gap :func:`remove_spans` documents:
    "keep-one-copy needs a global copy election"): every maximal
    aligned duplicate substring of ≥ ``min_len`` tokens is removed
    from the LATER side only (the larger doc id; for in-document
    repeats the later position), so exactly one copy — the canonical
    earliest — survives in the corpus.

    The election falls out of :func:`exact_match_spans`' pair
    convention for free: side a is always the earlier copy, so the
    removal set is simply every match's (doc_b, start_b, +match_len)
    span. Spans may overlap across partners (a doc can be the later
    copy against several earlier ones); the token mask tests covered
    membership, so no island merge is needed — one distinct over the
    span set bounds the per-doc array.

    Emits (id, cleaned, n_tokens, n_removed) exactly like
    :func:`remove_spans`; docs that are nobody's later copy pass
    through byte-identical."""
    m = exact_match_spans(df, id_col, text_col, k, min_len, max_anchor_freq)
    later = m.select(
        F.col("doc_b").alias("doc"),
        F.col("start_b").alias("span_start"),
        (F.col("start_b") + F.col("match_len")).alias("span_end"),
    ).distinct()
    return remove_spans(df, id_col, text_col, spans=later)


def remove_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The removal half of the ExactSubstr pass: drop every token that
    falls inside a duplicated span (all copies — the aggressive masking
    variant; keep-one-copy needs a global copy election, which the span
    frame's keep-min canon can drive if wanted) and re-join the
    survivors. Emits (id, cleaned, n_tokens, n_removed); documents with
    no spans pass through with n_removed = 0.

    Spans aggregate to ONE array per doc (bounded by document length,
    never corpus size), broadcast-joined or hash-joined on the doc id;
    the token filter is a scan-fused higher-order function — no explode,
    no per-token shuffle."""
    if spans is None:
        spans = duplicate_spans(df, id_col, text_col, n)
    sp = spans.groupBy("doc").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_sp")
    )
    toks = tokens(text_col)
    joined = df.select(F.col(id_col), F.col(text_col)).join(
        sp, F.col(id_col) == F.col("doc"), "left"
    )
    kept = F.expr(
        f"""
        filter(
          transform({text_col}_toks, (t, i) -> struct(t AS t, i AS i)),
          x -> NOT exists(coalesce(_sp, array()),
                          s -> x.i >= s.span_start AND x.i < s.span_end))
        """
    )
    with_toks = joined.withColumn(f"{text_col}_toks", toks)
    return (
        with_toks.withColumn("_kept", kept)
        .select(
            F.col(id_col),
            # NULL text propagates as NULL (the redact_pii discipline) —
            # concat_ws would otherwise silently render it as ""
            F.when(
                F.col(text_col).isNotNull(),
                F.concat_ws(" ", F.expr("transform(_kept, x -> x.t)")),
            ).alias("cleaned"),
            F.size(f"{text_col}_toks").cast("long").alias("n_tokens"),
            (F.size(f"{text_col}_toks") - F.size("_kept"))
            .cast("long")
            .alias("n_removed"),
        )
    )


# --- incremental dedup against a persisted history snapshot ----------------


def _minhash_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    shingle_n: int,
    hash_mode: str,
) -> DataFrame:
    """(doc, band, bucket) — one row per (document, LSH band). Docs with
    fewer than ``shingle_n`` tokens have no shingles and emit no rows
    (they can only exact-duplicate). ``xxhash64`` is the production
    mode (:func:`minhash_signatures`); ``md5`` is the engine-portable
    60-bit twin (the :func:`md5_token_hash60` trick with an ``i:`` seed
    prefix) that puts the ENTIRE incremental-dedup decision under an
    exact cross-engine oracle."""
    if hash_mode == "xxhash64":
        band_keys = _band_bucket_array(n_hashes, bands, lambda c: F.xxhash64(*c))
        sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    else:
        band_keys = _band_bucket_array(
            n_hashes, bands, lambda c: md5_token_hash60(F.concat_ws(",", *c))
        )
        sig = shingles(df, id_col, text_col, shingle_n).groupBy("doc").agg(
            *[
                F.min(
                    md5_token_hash60(F.concat(F.lit(f"{i}:"), F.col("shingle")))
                ).alias(f"h{i}")
                for i in range(n_hashes)
            ]
        )
    return sig.select("doc", F.posexplode(band_keys).alias("band", "bucket"))


def build_dedup_state(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The persisted dedup index for a corpus snapshot — the day-1 half
    of the incremental story: (doc, content_md5, band, bucket), one row
    per (doc, band) plus a band-NULL row for docs too short to shingle.

    Append-only by design: after each incremental batch, union the KEPT
    docs' state rows onto the persisted table (never rewrite history).
    Persist partitioned/bucketed by ``bucket`` (the join key of the
    serve path); the exact-hash side is a projection of the same rows.
    Deterministic content — identical under any partitioning or retry.
    """
    md5s = df.select(
        F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("content_md5")
    )
    buckets = _minhash_buckets(
        df, id_col, text_col, n_hashes, bands, shingle_n, hash_mode
    )
    return md5s.join(buckets, "doc", "left").select(
        "doc", "content_md5", "band", "bucket"
    )


def incremental_dedup(
    batch: DataFrame,
    state: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Day-2 ingest dedup: classify every batch row against a persisted
    history snapshot (:func:`build_dedup_state`) AND the batch itself.
    Returns the batch columns plus ``status``:

    - ``exact_dup`` — content md5 already in history, or a smaller-id
      batch doc has identical text (keep-min within the batch);
    - ``near_dup`` — any LSH band bucket collides with a history doc's,
      or with a smaller-id batch doc's (single-pass, non-transitive:
      the smaller doc counts even if it is itself dropped — run the
      connected-components clusterer when transitive closure matters);
    - ``kept`` — survives both checks; append its state rows to the
      snapshot for day 3.

    Exact takes precedence over near. Shape at 100 TB: membership
    against history is equi-joins on content_md5 / (band, bucket) — the
    sanctioned anti-join form (no bloom_filter_agg in this build); the
    history side is pre-bucketed and append-only, so the day-N cost is
    batch-sized, never corpus-sized. Within-batch minima are windows on
    16-byte keys. No driver collection anywhere.
    """
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reserve_columns,
    )

    reserve_columns(batch, ["status"], "incremental_dedup")
    w_md5 = Window.partitionBy("_md5")
    base = (
        batch.withColumn("_md5", F.md5(F.col(text_col)))
        .withColumn("_min_id", F.min(id_col).over(w_md5))
    )
    hist_md5 = (
        state.where(F.col("content_md5").isNotNull())
        .select(F.col("content_md5").alias("_md5"))
        .distinct()
        .withColumn("_hist_exact", F.lit(1))
    )
    base = base.join(hist_md5, "_md5", "left")

    bb = _minhash_buckets(
        batch, id_col, text_col, n_hashes, bands, shingle_n, hash_mode
    )
    w_b = Window.partitionBy("band", "bucket")
    hist_b = (
        state.where(F.col("band").isNotNull())
        .select("band", "bucket")
        .distinct()
        .withColumn("_hb", F.lit(1))
    )
    # ONE pass over the batch buckets: the within-batch keep-min window
    # and the history-bucket membership ride the same (band, bucket)
    # partitioning (the union-of-two-branches form re-ran the whole
    # shingle+minhash signature build per branch — 2 full batch scans)
    near = (
        bb.withColumn("_minb", F.min("doc").over(w_b))
        .join(hist_b, ["band", "bucket"], "left")
        .filter(
            (F.col("doc") > F.col("_minb")) | F.col("_hb").isNotNull()
        )
        .select("doc")
        .distinct()
        .withColumnRenamed("doc", "_near_doc")
        .withColumn("_near", F.lit(1))
    )
    out = base.join(
        near, base[id_col] == near["_near_doc"], "left"
    )
    status = (
        F.when(
            F.col("_hist_exact").isNotNull()
            | (F.col(id_col) > F.col("_min_id")),
            F.lit("exact_dup"),
        )
        .when(F.col("_near").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return out.withColumn("status", status).select(
        *batch.columns, "status"
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 10,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995) —
    the classic entity-resolution candidate generator: order the corpus
    by a blocking key and emit every pair within ``window`` positions.
    Complements the hash-bucket family (MinHash/SimHash/winnowing):
    those block on CONTENT collisions, SNM blocks on KEY LOCALITY —
    records whose keys sort adjacently (near-equal lengths, shared name
    prefixes, close timestamps) become candidates even when no shingle
    collides.

    Scale shape — no global sort, no window over the corpus: the global
    rank comes from the histogram-CDF machinery
    (operators/sampling.quantile_bins, gated by `quality_deciles`), and
    the "within window positions" predicate is a BANDED rank-interval
    equi-join (operators/asof.interval_join, gated by
    `interval_orders`) — each row's successor range [rank+1, rank+w]
    joins on rank-bands, never a nested-loop theta join. Candidate
    volume is exactly N·w minus the tail — linear in the corpus by
    construction, the property that makes SNM attractive at scale.

    ``key_col`` must be integral (the house rule quantile_bins
    enforces; pack short string prefixes monotonically before calling).
    Returns ``(id_a, id_b, rank_a, rank_b)`` with ``rank_a < rank_b <=
    rank_a + window`` — ranks are the total order (key, id), useful for
    debugging why a pair blocked together.
    """
    from jobinsight_data_pipeline_spark.operators.asof import interval_join
    from jobinsight_data_pipeline_spark.operators.sampling import (
        quantile_bins,
    )

    if window < 1:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 1")
    ranked = quantile_bins(
        df.select(id_col, key_col), key_col, [id_col], n_bins=1
    ).select(F.col(id_col), F.col("rank"))
    intervals = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("rank").alias("rank_a"),
        (F.col("rank") + 1).alias("_snm_lo"),
        (F.col("rank") + F.lit(int(window))).alias("_snm_hi"),
    )
    points = ranked.select(
        F.col(id_col).alias("id_b"), F.col("rank").alias("rank_b")
    )
    return interval_join(
        points, intervals, "rank_b", "_snm_lo", "_snm_hi",
        band_width=int(window),
    ).select("id_a", "id_b", "rank_a", "rank_b")


def editdist_verify(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ratio_ppm: int = 200_000,
    threshold: int | None = None,
    length_prefilter: bool = False,
) -> DataFrame:
    """Edit-distance verification of candidate pairs — the entity-
    resolution VERIFY stage that runs after a blocking stage (sorted-
    neighborhood / MinHash bands / winnowing) has cut the pair space:
    exact Levenshtein distance between the two texts, normalized by the
    longer length in integer ppm, and an ``is_dup`` verdict at
    ``max_ratio_ppm``.

    Levenshtein is O(|a|·|b|) PER PAIR — never run it all-pairs; feed it
    blocked candidates only (the standard blocking→verify split). With
    ``threshold`` set, Spark's banded ``levenshtein(a, b, t)`` variant
    prunes each DP to the diagonal band and returns -1 above ``t`` —
    the right call at scale when only sub-threshold pairs matter (the
    verdict then treats -1 as not-duplicate). Distances and ratios are
    exact integers, so the whole report is engine-portable.

    ``candidates`` carries (id_a, id_b); texts join in from ``docs`` by
    two equi-joins on the id.

    With ``length_prefilter`` (the scale path), pairs whose LENGTH
    difference alone already exceeds the ratio bound are decided
    without running the DP: Levenshtein ≥ |len(a) − len(b)|, so such a
    pair can never be a duplicate — it reports ``dist = -1`` /
    ``is_dup = false`` like the banded threshold's over-limit result.
    On mixed-length candidate streams this skips most quadratic work
    with zero effect on the verdict set (pinned by test).
    """
    ta = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")
    )
    tb = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")
    )
    j = candidates.select("id_a", "id_b").join(ta, "id_a").join(tb, "id_b")
    if threshold is None:
        dist = F.levenshtein("_ta", "_tb")
    else:
        dist = F.levenshtein("_ta", "_tb", int(threshold))
    if length_prefilter:
        gap = F.abs(F.length("_ta") - F.length("_tb"))
        bound = F.lit(int(max_ratio_ppm)) * F.greatest(
            F.length("_ta"), F.length("_tb")
        )
        dist = F.when(
            gap * F.lit(1_000_000) > bound, F.lit(-1)
        ).otherwise(dist)
    j = j.withColumn("dist", dist.cast("long")).withColumn(
        "_len", F.greatest(F.length("_ta"), F.length("_tb"))
    )
    return j.select(
        "id_a",
        "id_b",
        "dist",
        F.expr("(dist * 1000000) div greatest(_len, 1)").alias("ratio_ppm"),
        (
            (F.col("dist") >= 0)
            & (
                F.col("dist") * F.lit(1_000_000)
                <= F.lit(int(max_ratio_ppm)) * F.col("_len")
            )
        ).alias("is_dup"),
    )


def source_overlap_matrix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-SOURCE n-gram containment matrix — which subcorpora share
    content: mirror sites, re-crawled collections, benchmark text
    leaking between datasets. For every ORDERED source pair (a, b) with
    any overlap, the distinct-shingle count of a, the shared count, and
    the containment share ``shared / |shingles(a)|`` in exact ppm —
    asymmetric on purpose (a tiny source fully contained in a huge one
    reads 10⁶ ppm from its own side, near-zero from the other, which is
    exactly the curation signal).

    Scale shape: shingle sets collapse to the SOURCE grain before the
    join (corpus-wide distinct, partial-aggregated map-side, output
    bounded by sources × vocabulary-of-shingles), and the equi-self-join
    fan-out per shingle is bounded by the number of SOURCES containing
    it — sources² per shingle worst case, never docs². No frequency cap
    needed: the blow-up axis of the doc-level near-dup joins does not
    exist at this grain."""
    sh = shingles(df, source_col, text_col, n).distinct()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc").alias("src_a"), "shingle")
    b = sh.select(F.col("doc").alias("src_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc").alias("src_a"), F.col("sz").alias("n_a")),
            "src_a",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "shared",
            F.expr("(shared * 1000000L) div n_a").alias("containment_ppm"),
        )
    )
