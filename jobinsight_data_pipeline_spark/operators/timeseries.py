"""Hypertable-style time-series operators: multi-resolution bucket
rollups (continuous-aggregate cascades) and grid resampling with
forward fill.

The TimescaleDB/Druid pattern a metrics pipeline needs at 100 TB:
aggregate raw events ONCE into the finest bucket width, then build
every coarser resolution FROM the next finer one — each cascade level
costs an aggregation over the (already tiny) previous level instead of
a fresh raw scan. That only works for DECOMPOSABLE aggregates; this
module carries (count, sum, min, max), the canonical re-aggregable set
(averages derive as sum/count at read time).

Timestamps travel as epoch-microsecond BIGINTs (the CLAUDE.md NTZ
discipline: `timestampdiff(MICROSECOND, epoch, ts)` — never cast NTZ
to long), values as integer cents/micro-units — every number in a
rollup is integer-exact on any engine or partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EPOCH_MICROS = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
)


def epoch_micros(ts_col: str) -> Column:
    """TIMESTAMP_NTZ → epoch-microsecond BIGINT (engine-portable)."""
    return F.expr(EPOCH_MICROS.format(col=ts_col))


def bucket_rollup(
    df: DataFrame,
    micros_col: str,
    key_cols: list[str],
    cents_col: str,
    width_micros: int,
) -> DataFrame:
    """Aggregate raw rows into fixed time buckets:
    (bucket, *keys, n, sum_cents, min_cents, max_cents) where
    ``bucket = micros div width`` (BIGINT). One partial-agg shuffle on
    (bucket, keys) — the base level of a cascade.

    ``div`` truncates toward zero, so PRE-1970 timestamps (negative
    micros) would share bucket 0's boundary with early 1970 ones —
    shift the epoch upstream if a corpus carries them (every testdata
    timestamp is far past 1970)."""
    if width_micros < 1:
        raise ValueError("bucket_rollup: width_micros must be >= 1")
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reserve_columns,
    )

    reserve_columns(
        df, ["bucket", "n", "sum_cents", "min_cents", "max_cents"],
        "bucket_rollup",
    )
    return (
        df.withColumn(
            "bucket", F.expr(f"`{micros_col}` div {int(width_micros)}")
        )
        .groupBy("bucket", *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents_col).alias("sum_cents"),
            F.min(cents_col).alias("min_cents"),
            F.max(cents_col).alias("max_cents"),
        )
    )


def cascade_level(level: DataFrame, key_cols: list[str], factor: int) -> DataFrame:
    """One cascade step: re-aggregate a finer rollup into buckets
    ``factor`` times wider — count/sum re-sum, min/max re-extremize.
    Input and output share the bucket_rollup schema, so steps chain."""
    if factor < 1:
        raise ValueError("cascade_level: factor must be >= 1")
    return (
        level.withColumn("bucket", F.expr(f"bucket div {int(factor)}"))
        .groupBy("bucket", *key_cols)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
    )


def resample_ffill(
    df: DataFrame,
    micros_col: str,
    key_col: str,
    cents_col: str,
    step_micros: int,
    order_col: str,
) -> DataFrame:
    """Per-key fixed-step grid between each key's first and last
    observation, carrying the latest observation at-or-before each grid
    point forward (gap filling for irregular series). Returns
    (key, grid_micros, cents).

    Ties at one timestamp resolve to the highest ``order_col`` (the
    freshest write wins — asof_join requires a unique version per
    (key, ts)). The grid explodes bounded sequences (span/step per
    key), and the fill is the union + forward-window asof_join — ONE
    shuffle, no per-grid-point range join."""
    from pyspark.sql import Window

    from jobinsight_data_pipeline_spark.operators.asof import asof_join

    if step_micros < 1:
        raise ValueError("resample_ffill: step_micros must be >= 1")
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reserve_columns,
    )

    reserve_columns(
        df, ["grid_micros", "_rn", "_lo", "_hi", "_start"], "resample_ffill"
    )
    w = Window.partitionBy(key_col, micros_col).orderBy(F.desc(order_col))
    versions = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key_col, micros_col, cents_col)
    )
    step = int(step_micros)
    grid = (
        df.groupBy(key_col)
        .agg(
            F.min(micros_col).alias("_lo"), F.max(micros_col).alias("_hi")
        )
        .withColumn(
            "_start", F.expr(f"((_lo + {step} - 1) div {step}) * {step}")
        )
        .filter(F.col("_start") <= F.col("_hi"))
        .select(
            key_col,
            F.explode(
                F.expr(f"sequence(_start, _hi, {step})")
            ).alias("grid_micros"),
        )
    )
    return asof_join(
        grid, versions, key_col, "grid_micros", micros_col, [cents_col]
    )


def ohlc_bars(
    df: DataFrame,
    micros_col: str,
    key_cols: list[str],
    cents_col: str,
    tiebreak_col: str,
    width_micros: int,
) -> DataFrame:
    """OHLC candle bars: per (bucket, keys), the Open (value at the
    earliest row), High, Low, Close (value at the latest row) plus n —
    the financial/metrics downsampling every dashboard serves.

    Open/Close are argmin/argmax on the (micros, tiebreak) order and
    ride inside the SAME single partial-aggregating groupBy as min/max
    — ``min(struct(micros, tiebreak, value))`` picks the earliest
    row's value deterministically (struct comparison is lexicographic,
    the tiebreak resolves simultaneous rows), so one shuffle produces
    the whole bar; no window, no self-join. All quantities integer
    (micros, tiebreak, cents) — exact on any engine/partitioning.
    """
    if width_micros < 1:
        raise ValueError("ohlc_bars: width_micros must be >= 1")
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reserve_columns,
    )

    reserve_columns(
        df,
        ["bucket", "n", "open_cents", "high_cents", "low_cents",
         "close_cents"],
        "ohlc_bars",
    )
    m, v, tb = F.col(micros_col), F.col(cents_col), F.col(tiebreak_col)
    okey = F.struct(m.alias("m"), tb.alias("t"), v.alias("v"))
    return (
        df.groupBy(
            F.expr(f"{micros_col} div {int(width_micros)}").alias("bucket"),
            *key_cols,
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(okey).alias("_first"),
            F.max(okey).alias("_last"),
            F.max(v).alias("high_cents"),
            F.min(v).alias("low_cents"),
        )
        .select(
            "bucket",
            *key_cols,
            "n",
            F.col("_first.v").alias("open_cents"),
            "high_cents",
            "low_cents",
            F.col("_last.v").alias("close_cents"),
        )
    )


def ohlc_partials(
    df: DataFrame,
    micros_col: str,
    key_cols: list[str],
    cents_col: str,
    tiebreak_col: str,
    width_micros: int,
) -> DataFrame:
    """Mergeable OHLC partials: per (bucket, keys) the first/last
    (micros, tiebreak, value) structs plus n/high/low — every field
    merges by min/max/sum (argmin rides in the struct), so partials
    from shards, days, or micro-batches combine into exact bars with
    :func:`merge_ohlc_partials`. ``ohlc_bars`` ≡ merge(partials) by
    construction (pinned by test and by the stream_ohlc gate, which
    streams these partials through ``stream_state`` under the batch
    oracle)."""
    if width_micros < 1:
        raise ValueError("ohlc_partials: width_micros must be >= 1")
    m, v, tb = F.col(micros_col), F.col(cents_col), F.col(tiebreak_col)
    okey = F.struct(m.alias("m"), tb.alias("t"), v.alias("v"))
    return df.groupBy(
        F.expr(f"{micros_col} div {int(width_micros)}").alias("bucket"),
        *key_cols,
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(okey).alias("first_ev"),
        F.max(okey).alias("last_ev"),
        F.max(v).alias("high_cents"),
        F.min(v).alias("low_cents"),
    )


def merge_ohlc_partials(
    partials: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Combine ``ohlc_partials`` outputs (any number of shards/batches,
    any order) into final bars — min/max/sum over the partial fields,
    then the same projection as :func:`ohlc_bars`."""
    return (
        partials.groupBy("bucket", *key_cols)
        .agg(
            F.sum("n").alias("n"),
            F.min("first_ev").alias("_first"),
            F.max("last_ev").alias("_last"),
            F.max("high_cents").alias("high_cents"),
            F.min("low_cents").alias("low_cents"),
        )
        .select(
            "bucket",
            *key_cols,
            "n",
            F.col("_first.v").alias("open_cents"),
            "high_cents",
            "low_cents",
            F.col("_last.v").alias("close_cents"),
        )
    )


def ewma_smooth(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    cents_col: str,
    window: int = 8,
) -> DataFrame:
    """Per-key exponentially weighted moving average (half-life = one
    step, i.e. α = 1/2) in EXACT integer arithmetic — the smoothing a
    metrics/monitoring pipeline layers over raw series, made
    engine-portable by truncating the exponential tail at ``window``
    observations and normalizing over the weights actually present.

    The EWMA recurrence is infinite-tail and float; both break
    bit-reproducibility (float accumulation order, engine pow). This
    uses the dyadic truncation: the i-th most recent value (i = 0 is the
    current row) carries integer weight ``2^(window-1-i)``, the
    normalizer is the sum of PRESENT weights ``2^window - 2^(window-m)``
    for a row with m ≤ window observations so far — so early rows are an
    exact weighted mean of their full history, later rows of the last
    ``window``. With window = 8 the dropped tail weighs < 0.4% of the
    true EWMA. Output is ``(num * 1000) div denom`` — milli-units of the
    input integer column; both engines' integer division truncates
    toward zero (CLAUDE.md), and every intermediate is BIGINT-exact.

    One shuffle (the window partition). Appends ``ewma_milli``.
    Overflow bound: ``|num * 1000| ≤ |cents|_max · 2^window · 1000``,
    which must stay under 2^63 — at the window=16 cap that allows
    |cents| up to ~1.4e14 (at window=32 it would already overflow for
    |cents| ≳ 2.1e6, hence the tighter guard)."""
    from pyspark.sql import Window

    if not 1 <= window <= 16:
        raise ValueError("ewma_smooth: window must be in [1, 16]")
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    num = None
    for i in range(window):
        term = F.coalesce(
            F.lag(F.col(cents_col), i).over(w), F.lit(0).cast("long")
        ) * F.lit(2 ** (window - 1 - i)).cast("long")
        num = term if num is None else num + term
    m = F.least(F.row_number().over(w), F.lit(window))
    return (
        df.withColumn("__ewma_num", num)
        .withColumn("__ewma_m", m)
        .withColumn(
            "ewma_milli",
            F.expr(
                f"(__ewma_num * 1000L) div"
                f" ({2 ** window}L - shiftleft(1L, {window} - __ewma_m))"
            ),
        )
        .drop("__ewma_num", "__ewma_m")
    )
