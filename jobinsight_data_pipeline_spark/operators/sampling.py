"""Deterministic sampling / dataset splitting for training-data prep.

PRNG-based sampling (``df.sample``/``sampleBy``) is seed-stable within
one engine but not reproducible across engines or data relayouts, and a
row's assignment changes when other rows move. Production splits hash
the KEY instead: ``bucket = md5(key) mod N`` — every engine agrees on
md5 of the same string, a row's split follows it through repartitions
and re-runs forever, and adding rows never reassigns existing ones.
(This is the same stable-split technique TFX/Beam pipelines use.)

The md5-hex prefix is used (not xxhash64) precisely so the assignment
is portable — the DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: per-row multiplicity ceiling for weighted_sample — far above any sane
#: upsample factor, far below int overflow / explode detonation
MAX_SAMPLE_WEIGHT = 1_000_000


def hash_bucket(key: Column, buckets: int = 100, salt: str = "") -> Column:
    """Deterministic bucket in [0, buckets): first 8 md5-hex chars of
    (salt || key) as an integer, mod buckets. Salt shifts the whole
    assignment — use a new salt for an independent re-split."""
    hexpfx = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8)
    return (F.conv(hexpfx, 16, 10).cast("long") % buckets).alias("bucket")


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Attach a ``split`` column assigning each row to a named fraction
    (e.g. ``{"train": 0.8, "val": 0.1, "test": 0.1}``; must sum to 1).
    Pure projection — no shuffle, no state."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key_col), 100, salt)
    expr: Column | None = None
    upper = 0.0
    names = list(splits.items())
    for name, frac in names[:-1]:
        upper += frac * 100
        cond = bucket < F.lit(int(round(upper)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = names[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — stable across
    runs, engines, and appends (new keys don't disturb old picks)."""
    return df.filter(hash_bucket(F.col(key_col), 10_000, salt) < int(fraction * 10_000))



def reserve_columns(df: DataFrame, names: list[str], op: str) -> None:
    """Refuse to run when an operator's working/output column names
    already exist on the input — ``withColumn`` would silently REPLACE
    them and corrupt the caller's data. The emitted names are part of
    each operator's documented contract; rename yours before calling."""
    clash = [c for c in df.columns if c in names]
    if clash:
        raise ValueError(
            f"{op} reserves column name(s) {clash} (working/output columns); "
            f"rename them on the input first"
        )


def _explode_copies(df: DataFrame, copies: Column) -> DataFrame:
    """Materialize ``copies`` rows per input row with a 0-based ``copy``
    index; zero copies drop the row via an empty sequence (sequence with
    stop < start would otherwise generate DESCENDING values). Shared by
    the group-weighted and row-weighted resamplers. Reserves/emits
    ``copy``."""
    reserve_columns(df, ["copy", "_copies"], "explode_copies")
    return (
        df.withColumn("_copies", copies)
        .withColumn(
            "copy",
            F.explode(
                F.when(
                    F.col("_copies") > 0,
                    F.sequence(F.lit(0), F.col("_copies") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ),
        )
        .drop("_copies")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    key_col: str,
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Domain-mixture resampling: re-weight each source/domain by a
    target factor — the data-mixing step of a pretraining pipeline
    (e.g. upsample curated sources, downsample boilerplate-heavy ones).

    Weight w gives every row ``floor(w)`` guaranteed copies plus one
    more iff its key-hash bucket falls below ``frac(w)`` — so expected
    multiplicity is exactly w, and the decision is the same
    engine-portable md5 bucket as ``hash_bucket``: stable across runs,
    engines, and relayouts, and appends never reassign existing rows.
    Thresholds are pre-scaled to integers driver-side, so no float
    arithmetic participates in the accept decision.

    Pure per-row projection + explode — no shuffle, no state; rows with
    zero copies drop via an empty sequence. Emits ``copy`` (0-based)
    alongside the original columns; downstream shard assignment should
    key on (key, copy).
    """
    base_items: list = []
    thr_items: list = []
    for name, w in weights.items():
        if w < 0:
            raise ValueError(f"negative mixture weight for {name!r}: {w}")
        base_items += [F.lit(name), F.lit(int(w))]
        thr_items += [F.lit(name), F.lit(int(round((w - int(w)) * 10_000)))]
    dbase = int(default_weight)
    dthr = int(round((default_weight - dbase) * 10_000))
    g = F.col(group_col)
    base = F.coalesce(F.create_map(*base_items)[g] if base_items else F.lit(None), F.lit(dbase))
    thr = F.coalesce(F.create_map(*thr_items)[g] if thr_items else F.lit(None), F.lit(dthr))
    bucket = hash_bucket(F.col(key_col), 10_000, salt)
    copies = (base + (bucket < thr).cast("int")).cast("int")
    return _explode_copies(df, copies)


def temperature_weights(
    df: DataFrame,
    group_col: str,
    total_target: int,
) -> DataFrame:
    """Temperature-scaled (α = 0.5) source-mixing weights — the
    α-sampling every multilingual/multi-domain pretraining mix uses
    (mT5/XLM-R style: sample source i with probability ∝ n_i^α, α < 1
    flattening the head so big sources stop drowning small ones).

    Per source: ``w_i = total_target · isqrt(n_i) / (S · n_i)`` with
    ``S = Σ_j isqrt(n_j)`` — expected docs drawn from source i is
    ``n_i · w_i ∝ √n_i = n_i^0.5``, and the expected TOTAL is
    ``total_target`` (up to the isqrt flooring). α is fixed at 0.5
    deliberately: ``isqrt`` (floor∘sqrt of a BIGINT) is exact on every
    engine (sqrt is correctly rounded IEEE, perfect squares are exact;
    counts < 2⁵³ by assumption), so the whole weight table is INTEGER
    arithmetic — an arbitrary α needs ``pow``, which disagrees by 1 ulp
    across engines (the quantized-ln lesson, CLAUDE.md). Returns one
    row per source: (group_col, n, w_base, w_thr_tenk) in
    :func:`mixture_sample`'s integer-threshold convention
    (multiplicity = w_base guaranteed copies + one more iff the row's
    hash bucket < w_thr_tenk of 10,000).

    One partial-aggregating groupBy + a 1-row S aggregate broadcast
    back (the unigram_lm pattern) — sources-sized output, no collect.
    """
    if total_target <= 0:
        raise ValueError(f"total_target must be positive: {total_target}")
    tt = int(total_target)
    per = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    per = per.withColumn(
        "_isqrt", F.floor(F.sqrt(F.col("n"))).cast("long")
    )
    s = per.agg(F.sum("_isqrt").alias("_s"))
    return per.crossJoin(F.broadcast(s)).select(
        group_col,
        "n",
        # All four intermediates run in DECIMAL(38,0) — 128-bit exact,
        # mirrored by HUGEINT in the oracle: under ANSI mode the BIGINT
        # form THROWS on overflow once tt·isqrt·10⁴ nears 10¹⁸ (e.g.
        # trillion-token sources with a ~10⁹ target), and remainder-
        # first rewrites don't save the tt·isqrt < S·n regime (the
        # remainder IS tt·isqrt there). DECIMAL(38,0) covers the whole
        # BIGINT input domain: tt·isqrt ≤ 2⁶³·3·10⁹ ≈ 10²⁸, ×10⁴ ≈
        # 10³², and S·n ≈ 10³⁴ worst-case — all < 10³⁸.
        F.expr(
            f"(CAST({tt} AS DECIMAL(38,0)) * _isqrt)"
            " div (CAST(_s AS DECIMAL(38,0)) * n)"
        )
        .cast("int")
        .alias("w_base"),
        F.expr(
            f"((CAST({tt} AS DECIMAL(38,0)) * _isqrt * 10000)"
            " div (CAST(_s AS DECIMAL(38,0)) * n)) % 10000"
        )
        .cast("int")
        .alias("w_thr_tenk"),
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str,
    key_col: str,
    total_target: int,
    salt: str = "temp",
) -> DataFrame:
    """α=0.5 temperature resampling end-to-end:
    :func:`temperature_weights` derives the per-source integer weight
    table FROM the data (one groupBy + a 1-row broadcast), a broadcast
    join attaches it, and each row materializes ``w_base`` copies plus
    one more iff its md5 bucket < ``w_thr_tenk`` — the identical
    engine-portable accept decision as :func:`mixture_sample`, with the
    weights computed in-engine instead of passed as driver literals.
    Emits ``copy`` alongside the original columns."""
    w = temperature_weights(df, group_col, total_target).drop("n")
    joined = df.join(F.broadcast(w), group_col)
    bucket = hash_bucket(F.col(key_col), 10_000, salt)
    copies = (
        F.col("w_base") + (bucket < F.col("w_thr_tenk")).cast("int")
    ).cast("int")
    return _explode_copies(joined, copies).drop("w_base", "w_thr_tenk")


def epoch_waterfill(
    sources: DataFrame,
    budget_num: int,
    budget_den: int,
    cap_milli: int,
    rounds: int = 4,
    source_col: str = "source",
    n_col: str = "n",
    w_col: str = "w",
) -> DataFrame:
    """Repeat-capped epoch allocation — the data-constrained planning
    step (Muennighoff et al. 2023 motivate the cap: repeated tokens
    decay in value, so practical mixes bound per-source epochs): a
    token budget distributes over sources proportionally to ``w_col``;
    any source whose share exceeds ``cap_milli``/1000 epochs of its own
    ``n_col`` tokens is FROZEN at the cap and the surplus re-flows over
    the uncapped sources — the classic waterfill, run for a FIXED
    ``rounds`` (the label_propagation contract: deterministic and
    engine-replayable; a round can only ADD caps, so any ``rounds`` ≥
    the cap-cascade depth reaches the fixpoint, and the emitted
    ``converged`` flag — TRUE iff the final round added no cap — pins
    it in the gate).

    All-integer: budget = ``(budget_num · Σn) div budget_den``
    (scale-relative, exact on any engine), shares are
    ``(budget − frozen) · w div W_uncapped``, epochs are
    parts-per-thousand. Per round: ONE 1-row aggregate broadcast back
    (the unigram_lm pattern) + one projection, round state eagerly
    localCheckpointed with superseded generations freed (the LPA
    lineage discipline — the returned frame holds the final round's
    checkpoint). The source table (think millions of web domains) never
    collects to the driver and never globally sorts.

    Returns one row per source: ``n``, ``w``, ``capped``,
    ``epochs_milli``, ``alloc_tokens``, ``converged``.
    """
    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if cap_milli <= 0 or budget_num <= 0 or budget_den <= 0:
        raise ValueError("cap_milli / budget_num / budget_den must be > 0")
    cap = int(cap_milli)
    cap_tokens = F.expr(f"(n * {cap}) div 1000")
    share = F.expr("((_budget - _taken) * w) div nullif(_wsum, 0)")

    state = sources.select(
        F.col(source_col).alias("source"),
        F.col(n_col).cast("long").alias("n"),
        F.col(w_col).cast("long").alias("w"),
        F.lit(False).alias("capped"),
        F.lit(False).alias("new_cap"),
    ).localCheckpoint(eager=True)
    budget = state.agg(
        F.expr(
            f"(CAST({int(budget_num)} AS BIGINT) * sum(n))"
            f" div {int(budget_den)}"
        ).alias("_budget")
    ).localCheckpoint(eager=True)

    for _ in range(int(rounds)):
        agg = state.agg(
            F.sum(F.when(F.col("capped"), cap_tokens).otherwise(0)).alias(
                "_taken"
            ),
            F.sum(F.when(~F.col("capped"), F.col("w")).otherwise(0)).alias(
                "_wsum"
            ),
        )
        wants_cap = (~F.col("capped")) & (
            F.coalesce(share, F.lit(0)) > cap_tokens
        )
        new_state = (
            state.crossJoin(F.broadcast(budget))
            .crossJoin(F.broadcast(agg))
            .select(
                "source",
                "n",
                "w",
                (F.col("capped") | wants_cap).alias("capped"),
                wants_cap.alias("new_cap"),
            )
            .localCheckpoint(eager=True)
        )
        _free_local_checkpoint(state)
        state = new_state

    agg = state.agg(
        F.sum(F.when(F.col("capped"), cap_tokens).otherwise(0)).alias(
            "_taken"
        ),
        F.sum(F.when(~F.col("capped"), F.col("w")).otherwise(0)).alias(
            "_wsum"
        ),
        F.sum(F.col("new_cap").cast("int")).alias("_n_new"),
    )
    alloc = F.when(F.col("capped"), cap_tokens).otherwise(
        F.coalesce(share, F.lit(0))
    )
    return (
        state.crossJoin(F.broadcast(budget))
        .crossJoin(F.broadcast(agg))
        .select(
            F.col("source").alias(source_col),
            "n",
            "w",
            "capped",
            F.when(F.col("capped"), F.lit(cap))
            .otherwise(
                F.expr(
                    "(coalesce(((_budget - _taken) * w)"
                    " div nullif(_wsum, 0), 0) * 1000) div n"
                )
            )
            .cast("long")
            .alias("epochs_milli"),
            alloc.cast("long").alias("alloc_tokens"),
            (F.col("_n_new") == 0).alias("converged"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    salt: str = "w",
) -> DataFrame:
    """Per-ROW importance resampling: each row carries its own target
    multiplicity ``w`` (a quality score mapped to a sampling weight, a
    perplexity-derived factor, …) and materializes ``floor(w)``
    guaranteed copies plus one more iff its key-hash bucket falls under
    ``frac(w)`` — :func:`mixture_sample` generalized from per-group
    literals to a weight column. Weights are sanitized: negative/NULL
    clamp to 0 (dropped) and values above ``MAX_SAMPLE_WEIGHT`` (10⁶)
    clamp down to it — a corrupt weight column (e.g. a blown-up
    perplexity factor) must degrade to a bounded upsample, not throw an
    ANSI int overflow or detonate the explode. The fractional threshold
    is ``round(w·10000)`` computed identically on any engine from the
    same double, so the draw stays engine-portable and append-stable.
    Pure projection + explode."""
    w = F.least(
        F.greatest(F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(0.0)),
        F.lit(float(MAX_SAMPLE_WEIGHT)),
    )
    base = F.floor(w).cast("int")
    thr = (F.round(w * 10_000) - base.cast("long") * 10_000).cast("long")
    bucket = hash_bucket(F.col(key_col), 10_000, salt)
    copies = base + (bucket < thr).cast("int")
    return _explode_copies(df, copies)


def stratified_sample_exact(
    df: DataFrame,
    stratum_cols: list[str],
    key_col: str,
    n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows from every stratum, deterministic:
    rank by md5(salt || key) within the stratum (key as tie-break) and
    keep the first N — the same engine-portable hash order as
    ``hash_bucket``, so the pick is reproducible across engines, runs,
    and relayouts, and re-salting draws an independent sample.

    One shuffle (the window's partitionBy). The per-stratum sort is
    bounded by stratum size; for mega-strata pre-thin with
    ``deterministic_sample`` (hash-stable, so the composition is still
    deterministic) before the exact rank.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(*stratum_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_srn", F.row_number().over(w))
        .filter(F.col("_srn") <= n_per_stratum)
        .drop("_srn")
    )


def stratified_reservoir_state(
    df: DataFrame,
    stratum_cols: list[str],
    key_col: str,
    n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """One batch's/shard's stratified-sample CANDIDATES — the per-GROUP
    face of the k-extreme merged shape (the grouped twin of
    :func:`reservoir_state`, exactly as hll_registers_by is
    hll_registers' grouped face): per stratum, the ``n_per_stratum``
    smallest rows in the deterministic md5(salt||key) order
    :func:`stratified_sample_exact` ranks by. Every global per-stratum
    top-n row is necessarily in its batch's per-stratum top-n, the hash
    is a pure function of (salt, key) so re-delivered candidates are
    IDENTICAL rows, and merging (distinct ∪ → per-stratum top-n) is
    therefore bit-identical to the batch pick on any partitioning or
    replay. State per batch ≤ strata × n rows. Returns (stratum_cols…,
    key_col)."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(*stratum_cols).orderBy(
        h.asc(), F.col(key_col).asc()
    )
    return (
        df.select(*stratum_cols, key_col)
        .withColumn("_srn", F.row_number().over(w))
        .filter(F.col("_srn") <= n_per_stratum)
        .drop("_srn")
    )


def stratified_reservoir_sample(
    states: DataFrame,
    stratum_cols: list[str],
    key_col: str,
    n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """Merge any union of :func:`stratified_reservoir_state` tables into
    the final exactly-N-per-stratum pick: distinct ∪ (absorbs replays)
    → the SAME deterministic rank — bit-identical to running
    :func:`stratified_sample_exact` over the full corpus (the shared-
    oracle pin). Output contract == stratified_sample_exact's."""
    return stratified_sample_exact(
        states.select(*stratum_cols, key_col).distinct(),
        stratum_cols,
        key_col,
        n_per_stratum,
        salt,
    )


def select_until_budget(
    df: DataFrame,
    score_col: str,
    tokens_col: str,
    budget: int,
    id_cols: list[str],
) -> DataFrame:
    """Greedy budgeted selection — the "fill a token budget with the
    best data" step of dataset assembly: rank rows by ``score_col``
    descending (``id_cols`` break ties, so the order is total and the
    cut deterministic) and keep rows until ``budget`` tokens are taken.
    A row is kept iff its EXCLUSIVE cumulative token count starts inside
    the budget — greedy-prefix semantics: the boundary row is included
    and may overshoot by at most its own length (cap rows first if that
    matters).

    The global cumsum reuses :func:`~jobinsight_data_pipeline_spark.
    operators.packing.pack_sequences`'s bucketed no-global-sort plan —
    range-split by the order key, per-bucket window, broadcast offsets —
    so the selection never collapses to one partition. With an integer
    score (the classifier's micro-margin, a quantized LM score) the
    whole decision is integer-exact.

    Returns the kept rows with ``start_offset`` (tokens taken before
    this row) attached; ``score_col`` rides through untouched."""
    from jobinsight_data_pipeline_spark.operators.packing import (
        pack_sequences,
    )

    reserve_columns(df, ["_negscore", "start_offset"], "select_until_budget")
    work = df.withColumn("_negscore", -F.col(score_col))
    packed = pack_sequences(
        work, tokens_col, int(budget), ["_negscore", *id_cols]
    )
    return packed.filter(F.col("start_offset") < int(budget)).drop(
        "_negscore", "pack_id"
    )


def quantile_bins(
    df: DataFrame,
    score_col: str,
    id_cols: list[str],
    n_bins: int = 10,
    hist_buckets: int = 1024,
) -> DataFrame:
    """Exact NTILE-semantics quantile binning — curriculum/quality
    deciles over a corpus — WITHOUT a global sort.

    Appends ``rank`` (1-based global rank in ``(score, *id_cols)``
    ascending order — the id tie-break makes the order total) and
    ``bin`` (1..n_bins, byte-identical to SQL-standard
    ``NTILE(n) OVER (ORDER BY score, ids)``: the first ``N mod n`` bins
    hold one extra row).

    Scale shape — the histogram-CDF trick instead of ORDER BY:

    1. one aggregate for (min, count) — two scalars;
    2. coarse bucket per row: ``(score - min) div step`` (non-negative
       integer div, engine-portable), step sized so ≤ ``hist_buckets``
       buckets exist;
    3. bucket histogram (partial-agg groupBy of ≤1k rows) → exclusive
       prefix counts via one window over that TINY frame (the only
       single-partition step, bounded by ``hist_buckets`` — the
       pack_sequences split-point discipline);
    4. per-row rank = broadcast-joined prefix + row_number within the
       bucket (each window partition holds ~N/hist_buckets rows — no
       partition ever sees the whole corpus);
    5. ``bin`` from rank and N by integer arithmetic (the NTILE
       formula), no second pass.

    Scores must be integral (the quantized-integer house rule — float
    scores order differently across engines at the ulp). Skew note: a
    single score value with more rows than a bucket can hold still
    lands in ONE window partition; quantize scores coarsely enough
    that no value dominates, or pre-salt ties if one does.
    """
    if n_bins < 1:
        raise ValueError("quantile_bins: n_bins must be >= 1")
    reserve_columns(
        df, ["rank", "bin", "_qb_bucket", "_qb_prefix", "_qb_rn"],
        "quantile_bins",
    )
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    stats = df.agg(
        F.min(score_col).alias("_qb_min"),
        F.count(F.lit(1)).alias("_qb_n"),
        (
            (F.max(score_col) - F.min(score_col))
            .cast("long") / F.lit(int(hist_buckets))
        ).cast("long").alias("_qb_step_raw"),
    ).select(
        "_qb_min", "_qb_n",
        F.greatest(F.lit(1).cast("long"), F.col("_qb_step_raw") + 1)
        .alias("_qb_step"),
    )
    work = df.crossJoin(broadcast(stats)).withColumn(
        "_qb_bucket",
        F.expr(f"(CAST({score_col} AS BIGINT) - _qb_min) div _qb_step"),
    )
    hist = (
        work.groupBy("_qb_bucket")
        .agg(F.count(F.lit(1)).alias("_qb_cnt"))
        .withColumn(
            "_qb_prefix",
            F.coalesce(
                F.sum("_qb_cnt").over(
                    Window.orderBy("_qb_bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0).cast("long"),
            ),
        )
        .select("_qb_bucket", "_qb_prefix")
    )
    w = Window.partitionBy("_qb_bucket").orderBy(
        F.col(score_col).asc(), *[F.col(c).asc() for c in id_cols]
    )
    ranked = (
        work.join(broadcast(hist), "_qb_bucket")
        .withColumn("_qb_rn", F.row_number().over(w).cast("long"))
        .withColumn("rank", F.col("_qb_prefix") + F.col("_qb_rn"))
    )
    # SQL-standard NTILE from (rank, N): q = N div n, rem = N mod n;
    # the first rem bins get q+1 rows
    n = int(n_bins)
    binned = ranked.withColumn(
        "bin",
        F.expr(
            f"CASE WHEN `rank` <= (_qb_n % {n}) * ((_qb_n div {n}) + 1) "
            f"THEN CAST((`rank` - 1) div ((_qb_n div {n}) + 1) + 1 AS INT) "
            f"ELSE CAST((_qb_n % {n}) + "
            f"(`rank` - 1 - (_qb_n % {n}) * ((_qb_n div {n}) + 1)) "
            f"div (_qb_n div {n}) + 1 AS INT) END"
        ),
    )
    return binned.drop(
        "_qb_bucket", "_qb_prefix", "_qb_rn", "_qb_min", "_qb_n",
        "_qb_step", "_qb_step_raw",
    )


def weighted_sample_exact_n(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    salt: str = "ws:",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly ``n`` rows
    (Efraimidis & Spirakis 2006, A-ES): each row draws a deterministic
    uniform u from md5(salt||key) and competes on priority
    ``ln(u)/w`` — the top-n priorities are a weighted sample without
    replacement (inclusion odds proportional to weight, no row twice).
    The multiplicity-based ``weighted_sample`` above answers "repeat
    rows ∝ weight" (mixture construction); THIS answers "pick n
    distinct rows ∝ weight" (budgeted corpus draws, eval-panel
    selection) — the two production weighted-sampling shapes.

    Determinism/portability: u is an exact dyadic rational from the
    md5-hex prefix ((h+1)/2^32 ∈ (0,1]), ``ln(u)`` is quantized to
    ``floor(ln(u)·10⁶)`` BIGINT (ln wobbles 1 ulp between engines —
    the CLAUDE.md discipline; tests/test_properties audits every u this
    testdata produces for floor-boundary clearance), and the priority
    ``lq6/w`` divides identical doubles, so the top-n cut is
    bit-reproducible on any engine, partitioning, or rerun; a new salt
    draws an independent sample. Weights must be POSITIVE integers
    (ratios of identical integers keep the order exact).

    One scan + TakeOrderedAndProject (per-partition heaps, no global
    sort); nothing is collected. Returns rank (1-based), the key,
    weight, and the quantized log draw.
    """
    from pyspark.sql import Window

    key = F.col(key_col)
    hexpfx = F.substring(
        F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8
    )
    hv = F.conv(hexpfx, 16, 10).cast("long")
    u = (hv + F.lit(1)).cast("double") / F.lit(4294967296.0)
    lq6 = F.floor(F.log(u) * F.lit(1000000.0)).cast("long")
    pri = F.col("_lq6").cast("double") / F.col(weight_col).cast("double")
    scored = df.select(
        key_col, weight_col, lq6.alias("_lq6")
    ).withColumn("_pri", pri)
    # orderBy+limit plans as TakeOrderedAndProject (per-partition heaps);
    # the row_number window then ranks only the n-row survivor frame
    top = scored.orderBy(F.desc("_pri"), F.asc(key_col)).limit(int(n))
    w_small = Window.orderBy(F.desc("_pri"), F.asc(key_col))
    return (
        top.withColumn("rank", F.row_number().over(w_small))
        .select(
            "rank",
            key_col,
            weight_col,
            F.col("_lq6").alias("lq6"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    score_col: str,
    group_cols: list[str],
    id_cols: list[str],
    hist_buckets: int = 1024,
) -> DataFrame:
    """Per-group quantile (rank) normalization: appends
    ``rank_in_group`` (1-based, (score, ids) ascending within the
    group) and ``pct_ppm`` — the empirical percentile
    ``(rank−1)·10⁶ div (n−1)`` (singleton groups pin to the 500 000
    midpoint). This is how heterogeneous per-source quality scores
    become comparable before mixing/budgeting: each source's score
    distribution maps onto [0, 10⁶] uniformly, so a source with an
    inflated scorer no longer dominates a global cut.

    Scale shape is ``quantile_bins``' histogram-CDF trick generalized
    by a group key — NOT a per-group global window (whose parallelism
    would collapse to the number of sources):

    1. per-group (min, count, step) — a groups-sized broadcast;
    2. coarse bucket per row, (group, bucket) histogram (tiny), and
       per-group exclusive prefix over that tiny frame;
    3. ``row_number`` only within (group, bucket) partitions — no
       partition ever holds a whole group, let alone the corpus.

    Scores must be integral (the house quantized-integer rule); the
    skew note on ``quantile_bins`` applies per group.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    reserve_columns(
        df,
        ["rank_in_group", "pct_ppm", "_qn_bucket", "_qn_prefix", "_qn_rn",
         "_qn_min", "_qn_n", "_qn_step"],
        "quantile_normalize",
    )
    g = [F.col(c) for c in group_cols]
    stats = (
        df.groupBy(*g)
        .agg(
            F.min(score_col).alias("_qn_min"),
            F.count(F.lit(1)).alias("_qn_n"),
            (
                (F.max(score_col) - F.min(score_col)).cast("long")
                / F.lit(int(hist_buckets))
            ).cast("long").alias("_qn_step_raw"),
        )
        .select(
            *group_cols, "_qn_min", "_qn_n",
            F.greatest(
                F.lit(1).cast("long"), F.col("_qn_step_raw") + 1
            ).alias("_qn_step"),
        )
    )
    work = df.join(broadcast(stats), group_cols).withColumn(
        "_qn_bucket",
        F.expr(f"(CAST({score_col} AS BIGINT) - _qn_min) div _qn_step"),
    )
    hist = (
        work.groupBy(*group_cols, "_qn_bucket")
        .agg(F.count(F.lit(1)).alias("_qn_cnt"))
        .withColumn(
            "_qn_prefix",
            F.coalesce(
                F.sum("_qn_cnt").over(
                    Window.partitionBy(*group_cols)
                    .orderBy("_qn_bucket")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .select(*group_cols, "_qn_bucket", "_qn_prefix")
    )
    w = Window.partitionBy(*group_cols, "_qn_bucket").orderBy(
        F.col(score_col).asc(), *[F.col(c).asc() for c in id_cols]
    )
    return (
        work.join(broadcast(hist), [*group_cols, "_qn_bucket"])
        .withColumn("_qn_rn", F.row_number().over(w).cast("long"))
        .withColumn("rank_in_group", F.col("_qn_prefix") + F.col("_qn_rn"))
        .withColumn(
            "pct_ppm",
            F.coalesce(
                F.expr(
                    "((rank_in_group - 1) * 1000000) div nullif(_qn_n - 1, 0)"
                ),
                F.lit(500_000).cast("long"),
            ),
        )
        .drop("_qn_bucket", "_qn_prefix", "_qn_rn", "_qn_min", "_qn_n",
              "_qn_step")
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    buckets: int = 512,
    salt: str = "dsir:",
) -> DataFrame:
    """The DSIR importance ESTIMATOR (Xie et al., NeurIPS 2023) over
    hashed n-gram features: every RAW-pool document's bag-of-hashed-
    ngrams log-likelihood ratio between the TARGET pool's and the raw
    pool's add-one-smoothed bin distributions.

    Features are word unigrams and adjacent bigrams hashed into
    ``buckets`` md5-prefix bins (the module's portable bucket); each
    ``ln`` is quantized to ``floor(ln(p)*1e6)`` BIGINT micro-units
    BEFORE the subtraction and the per-doc sum (the CLAUDE.md ln
    discipline — ln wobbles 1 ulp between engines; the pytest boundary
    audit walks every (count, total) this testdata produces), so
    weights are integers and every downstream cut/draw is bit-stable.

    Scale shape: one explode + ONE partial-agg shuffle builds the
    2-column bin-count table (``buckets`` rows — model-sized however
    large the corpus; pinned with one localCheckpoint so the feature
    explode never re-runs per consumer); the λ table broadcasts back
    onto the feature stream; per-doc weights are a second partial-agg
    shuffle keyed by the id. Nothing driver-side grows with the corpus.

    Returns ``(id_col, n_features, weight_micro)`` for every raw-pool
    document with ≥1 feature. Consumed by :func:`dsir_select` (top-n
    cut) and :func:`dsir_resample` (the paper's weighted draw).
    """
    feats = dsir_features(df, id_col, text_col, is_target, buckets, salt)
    # the bin-count table feeds totals AND the lambda projection — it is
    # `buckets` rows however large the corpus, so pin it once instead of
    # re-running the feature explode per consumer
    counts = dsir_bin_counts(feats).localCheckpoint(eager=True)
    return dsir_score_against_counts(feats, counts, id_col, buckets)


def dsir_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    buckets: int = 512,
    salt: str = "dsir:",
) -> DataFrame:
    """The DSIR feature stream: one row per hashed unigram/bigram
    occurrence — ``(__id, __tgt, __b)``. The bigram builder is an
    interpreted HOF (real per-row CPU) and a single-file corpus would
    run it on ONE task — widened first (the widen_for_cpu lesson;
    measured 2.9 s → 0.3 s per pass at sf0.1)."""
    from jobinsight_data_pipeline_spark.operators.parallelism import (
        widen_for_cpu,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import (
        tokens,
        word_bigrams,
    )

    if buckets < 2:
        raise ValueError("dsir_features: buckets must be >= 2")
    return (
        widen_for_cpu(
            df.select(
                F.col(id_col).alias("__id"),
                is_target.alias("__tgt"),
                F.col(text_col).alias("__text"),
            )
        )
        .select(
            "__id",
            "__tgt",
            F.explode(
                F.concat(
                    F.transform(tokens("__text"), F.lower),
                    F.transform(word_bigrams("__text"), F.lower),
                )
            ).alias("__f"),
        )
        .where(F.col("__f") != "")
        .select(
            "__id", "__tgt",
            hash_bucket(F.col("__f"), buckets, salt).alias("__b"),
        )
    )


def dsir_bin_counts(feats: DataFrame) -> DataFrame:
    """Per-bucket pool counts ``(__b, c_t, c_r)`` — ``buckets`` rows
    however large the corpus. Plain integer sums, so partials over
    shards/micro-batches MERGE by addition per bucket (the mergeable-
    state family; see streaming/incremental.stream_state)."""
    return feats.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("__tgt"), 0).otherwise(1)).alias("c_r"),
    )


def dsir_score_against_counts(
    feats: DataFrame,
    counts: DataFrame,
    id_col: str,
    buckets: int = 512,
) -> DataFrame:
    """Score the raw-pool side of a feature stream against a (possibly
    externally accumulated) bin-count table: smoothing totals from the
    counts, per-ln micro-quantized λ, broadcast back, per-doc sums."""
    from pyspark.sql.functions import broadcast

    totals = counts.agg(
        F.sum("c_t").alias("tot_t"), F.sum("c_r").alias("tot_r")
    )
    lam = counts.crossJoin(broadcast(totals)).select(
        "__b",
        F.expr(
            f"CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / (tot_t + {buckets}))"
            " * 1000000.0) AS BIGINT)"
            f" - CAST(floor(ln(CAST(c_r + 1 AS DOUBLE) / (tot_r + {buckets}))"
            " * 1000000.0) AS BIGINT)"
        ).alias("__lam"),
    )
    scored = (
        feats.where(~F.col("__tgt"))
        .join(broadcast(lam), "__b")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("__lam").alias("weight_micro"),
        )
    )
    return scored.select(
        F.col("__id").alias(id_col), "n_features", "weight_micro"
    )


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    buckets: int = 512,
    top_n: int = 100,
    salt: str = "dsir:",
) -> DataFrame:
    """Deterministic DSIR selection: the :func:`dsir_weights` estimator
    followed by a top-``top_n`` cut with doc-id tie-break (the paper
    resamples — :func:`dsir_resample` is that variant; the ranking is
    the same estimator). The cut is TakeOrderedAndProject — per-
    partition heaps, no global sort.

    Returns ``(rank, id_col, n_features, weight_micro)``, rank 1 = best.
    """
    from pyspark.sql import Window

    scored = dsir_weights(df, id_col, text_col, is_target, buckets, salt)
    w = Window.orderBy(F.desc("weight_micro"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("rank", id_col, "n_features", "weight_micro")
    )


def reservoir_state(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    salt: str = "ws:",
) -> DataFrame:
    """One shard's/batch's A-ES reservoir CANDIDATES — the K-MAX-
    PRIORITY merged state shape (the seventh, beside sum-merged counts/
    Gram/CMS/DSIR, min-merged first-seen, struct-merged OHLC, and
    MAX-merged HLL): the shard's top-``n`` rows by the deterministic
    A-ES priority ``lq6/weight`` (the exact scoring of
    :func:`weighted_sample_exact_n`), WITHOUT ranks — ranks only exist
    on the merged whole. Because every global top-n row is necessarily
    in its shard's top-n, merging = distinct ∪ → top-n, and because the
    priority is a pure function of (salt, key), a re-delivered row is
    an IDENTICAL row (distinct absorbs it — replay-idempotent like the
    HLL max). The merged sample is therefore BIT-IDENTICAL to the
    batch draw on any partitioning, batch order, or replay: a weighted
    sample over a continuously-ingested corpus without rescanning
    history, with per-batch state ≤ n rows.

    Caveat: the without-replacement guarantee is per KEY IDENTITY —
    if a key re-arrives with a CHANGED weight it becomes a second
    candidate identity; keep the (key, weight) grain stable upstream
    (the same contract every keyed state here assumes).

    Returns (key_col, weight_col, lq6) — ≤ n rows."""
    hexpfx = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8
    )
    hv = F.conv(hexpfx, 16, 10).cast("long")
    u = (hv + F.lit(1)).cast("double") / F.lit(4294967296.0)
    lq6 = F.floor(F.log(u) * F.lit(1000000.0)).cast("long")
    scored = df.select(
        key_col, weight_col, lq6.alias("lq6")
    ).withColumn(
        "_pri",
        F.col("lq6").cast("double") / F.col(weight_col).cast("double"),
    )
    return (
        scored.orderBy(F.desc("_pri"), F.asc(key_col))
        .limit(int(n))
        .select(key_col, weight_col, "lq6")
    )


def reservoir_sample(
    states: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Merge any union of :func:`reservoir_state` tables (shards, days,
    streamed batch partitions) into the final ranked draw: distinct
    (absorbs re-delivered identical candidates) → top-``n`` by the
    recomputed priority → rank. Output contract ==
    :func:`weighted_sample_exact_n` (rank, key, weight, lq6), and the
    values are bit-identical to running that batch draw over the full
    corpus — the streaming ≡ batch pin the gate shares."""
    from pyspark.sql import Window

    pri = F.col("lq6").cast("double") / F.col(weight_col).cast("double")
    top = (
        states.select(key_col, weight_col, "lq6")
        .distinct()
        .withColumn("_pri", pri)
        .orderBy(F.desc("_pri"), F.asc(key_col))
        .limit(int(n))
    )
    w_small = Window.orderBy(F.desc("_pri"), F.asc(key_col))
    return top.withColumn("rank", F.row_number().over(w_small)).select(
        "rank", key_col, weight_col, "lq6"
    )


def dsir_resample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    n: int,
    buckets: int = 512,
    salt: str = "dsir:",
    draw_salt: str = "ws:",
) -> DataFrame:
    """The DSIR paper's actual RESAMPLING step: draw ``n`` distinct
    raw-pool documents WITHOUT replacement with inclusion odds
    proportional to their importance weight, via the same
    Efraimidis–Spirakis A-ES machinery as :func:`weighted_sample_exact_n`
    (deterministic md5 uniform, quantized-ln priority).

    A-ES needs POSITIVE integer weights; the log-ratio weights are
    signed, so they shift by ``1 - min(weight)`` (a 1-row aggregate
    broadcast — the smallest-weight doc gets weight 1, every other doc
    ``delta+1``; rank-preserving, and exactly reproducible in the
    oracle). Same draw salt as weighted_sample_exact_n by default, so
    the boundary-audited u set is shared.

    Returns ``(rank, id_col, weight_shifted, lq6)``, rank 1..n by
    priority (best draw first).
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    scored = dsir_weights(df, id_col, text_col, is_target, buckets, salt)
    wmin = scored.agg(F.min("weight_micro").alias("__wmin"))
    shifted = scored.crossJoin(broadcast(wmin)).select(
        F.col(id_col),
        (F.col("weight_micro") - F.col("__wmin") + F.lit(1).cast("long")).alias(
            "weight_shifted"
        ),
    )
    hexpfx = F.substring(
        F.md5(F.concat(F.lit(draw_salt), F.col(id_col).cast("string"))), 1, 8
    )
    drawn = shifted.withColumn(
        "__hv", F.conv(hexpfx, 16, 10).cast("long")
    ).withColumn(
        "lq6",
        F.expr(
            "CAST(floor(ln((__hv + 1) / 4294967296.0) * 1000000.0) AS BIGINT)"
        ),
    )
    w = Window.orderBy(
        (
            F.col("lq6").cast("double")
            / F.col("weight_shifted").cast("double")
        ).desc(),
        F.col(id_col).asc(),
    )
    return (
        drawn.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select("rank", id_col, "weight_shifted", "lq6")
    )
