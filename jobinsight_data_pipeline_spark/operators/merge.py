"""Set-based upsert primitives over plain Parquet tables.

The reference implements upserts row-at-a-time or via staged SQL MERGE
(``INSERT ... ON CONFLICT`` — /root/reference/src/db/bulk_operations.py:174-269,
/root/reference/sql/insert_raw_to_staging.sql:37). Without a transactional
table format, the Spark-native equivalent is a union that keeps the
surviving row per key (an anti-join + union, or one window over a tagged
union), rewritten atomically by the caller (write to temp dir, swap). All
operators here are pure DataFrame→DataFrame; no driver-side iteration.

Scale notes (100 TB posture):
- ``upsert_by_key`` shuffles both sides on the key (one union, one
  window) — on a real deployment partition/bucket the base table by the
  same key so the window's exchange is planned away on that side.
- surrogate-key assignment numbers the *incoming batch only* from the
  table's max() (dims/facts grow by small daily deltas), never a global
  resort of the base table; :func:`_ordered_offsets` is the one
  global-offset primitive (probe → delta or bucketed plan, unless the
  caller passes ``bounds``), shared with operators/packing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def null_safe_cond(left: DataFrame, right: DataFrame, keys: list[str]) -> Column:
    """AND-fold of null-safe equality (<=>) over ``keys`` — required for
    composite natural keys with nullable parts (DimLocation: province and
    district are nullable — ref src/etl/dimension_handler.py:290-299)."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else (cond & c)
    assert cond is not None
    return cond


def dedupe_last_write(
    df: DataFrame, keys: list[str], order_col: str | None = None
) -> DataFrame:
    """Keep one row per key. The reference processes batches sequentially,
    so a key occurring twice takes the LAST write (SURVEY §7.3); with an
    ``order_col`` we keep the max-order row deterministically, otherwise
    an arbitrary row (dropDuplicates)."""
    if order_col is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc_nulls_last(),
        # value-based tie-break so reruns pick the same survivor regardless
        # of partition layout (monotonically_increasing_id is only stable
        # while file splits/parallelism are unchanged)
        F.xxhash64(*[F.col(c) for c in df.columns]).asc(),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_by_key(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """S5 semantics: ``INSERT ... ON CONFLICT (keys) DO UPDATE`` — incoming
    rows win wholesale; existing rows without a matching key survive.
    Columns are aligned by name (unionByName).

    One pass over each side: existing rows (tag 0) and incoming rows
    (tag 1) are unioned and ranked in one window per key, so ``incoming``
    — often a whole derived projection — is evaluated once, not once for
    the key side of an anti-join and again for the row side. Survivors
    are exactly those of ``dedupe_last_write`` + left-anti + union:

    - among incoming rows, the last write by ``order_col`` wins, ties
      broken by ``xxhash64`` over the incoming columns
      (``dedupe_last_write``'s rule; without ``order_col`` the hash
      alone picks one row);
    - an existing row survives iff no incoming row has its key. Null
      keys never match (equi-join semantics), and duplicate existing
      keys are all kept.
    """
    if existing is None:
        return dedupe_last_write(incoming, keys, order_col)
    cols = existing.columns
    order = F.col(order_col) if order_col is not None else F.lit(0)
    inc = incoming.select(
        *cols,
        F.lit(1).alias("_src"),
        order.alias("_ord"),
        F.xxhash64(*[F.col(c) for c in incoming.columns]).alias("_tie"),
    )
    base = existing.select(
        *cols,
        F.lit(0).alias("_src"),
        F.lit(None).cast(inc.schema["_ord"].dataType).alias("_ord"),
        F.lit(None).cast("long").alias("_tie"),
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("_src").desc(), F.col("_ord").desc_nulls_last(), F.col("_tie").asc()
    )
    null_key = None
    for k in keys:
        c = F.col(k).isNull()
        null_key = c if null_key is None else (null_key | c)
    # the window's first row is an incoming one iff the key has any
    keep = F.when(
        F.col("_src") == 1, F.row_number().over(w) == 1
    ).otherwise((F.first("_src").over(w) == 0) | null_key)
    return (
        base.unionByName(inc)
        .withColumn("_keep", keep)
        .filter("_keep")
        .select(*cols)
    )


def insert_if_absent(
    existing: DataFrame | None, incoming: DataFrame, keys: list[str]
) -> DataFrame:
    """S6/J6 semantics: ``ON CONFLICT DO NOTHING`` — only keys not already
    present are appended; existing rows keep their values."""
    incoming = incoming.dropDuplicates(keys)
    if existing is None:
        return incoming
    fresh = incoming.join(existing.select(*keys), on=keys, how="left_anti")
    return existing.unionByName(fresh.select(existing.columns))


_SAMPLE_PER_PART = 257


def _split_points(df: DataFrame, col: str, parts: int) -> list:
    """Split points for range-bucketing ``col``, from ONE sizing job.

    Bottom-k by ``xxhash64(value)`` (TakeOrderedAndProject: a per-partition
    k-heap, then a driver merge — no full sort, no shuffle, scans the
    column-pruned input once) is a uniform random sample of the non-null
    values at any input size, so no separate ``count()`` pass is needed to
    pick a thinning rate — the fixed k IS the thinning. The same job
    doubles as the smallness probe: a sample that comes back short proves
    the input has < k non-null keys, and the caller takes the fused
    single-partition delta plan instead (returns ``[]``).

    Sampled values are sorted on the driver and ≤ P-1 evenly spaced ones
    are frozen as plan literals. Works for any orderable type — strings
    included, which quantile sketches (percentile_approx) don't cover.
    The values only steer partition BALANCE — key values never depend on
    them, so sample quality is correctness-safe."""
    k = _SAMPLE_PER_PART * parts
    sample = (
        df.select(F.col(col).alias("v"))
        .where(F.col("v").isNotNull())
        .orderBy(F.xxhash64("v").asc(), F.col("v").asc())
        .limit(k)
        .collect()
    )
    if len(sample) < k:
        return []
    vals = sorted(r["v"] for r in sample)
    out: list = []
    for i in range(1, parts):
        v = vals[min(len(vals) - 1, int(i * len(vals) / parts))]
        if not out or v != out[-1]:
            out.append(v)
    return out


def _ordered_offsets(
    df: DataFrame,
    weight: Column,
    order_by: list[str],
    out_col: str,
    bounds: list | None = None,
) -> DataFrame:
    """Attach ``out_col``: the exclusive running sum of ``weight`` in the
    total ``order_by`` order (nulls last) — the one global-offset
    primitive behind surrogate keys (weight 1) and sequence packing
    (weight = tokens).

    The plan is picked by ONE rule: the ``_split_points`` probe (one
    column-pruned sizing job — the bottom-k hash sample doubles as the
    smallness probe, so no ``count()`` pass executes the upstream DAG)
    returns split points on the leading order column, unless the caller
    supplies ``bounds`` itself (skipping the probe).

    **No split points** (a bounded daily delta, or a constant leading
    column): one local sort over a deliberate constant partition key —
    the single-partition window is the right plan there, and the
    constant key states that intent (it keeps the plan free of the "No
    Partition Defined" smell that flags *accidental* global windows).

    **Split points** (bulk loads): the same sums with no global sort —

    1. bucket each row by comparing its FIRST order column against the
       split points, frozen as plan literals — a pure function of the
       row's key, deterministic across plan re-executions, unlike
       repartitionByRange's sampled RangePartitioner or
       spark_partition_id (which made this path unsafe for
       multi-consumer plans in its first incarnation); NULLs sort last
       → the final bucket;
    2. running sum within each bucket (parallel local sorts — the
       window's partitionBy supplies the hash shuffle);
    3. add the broadcast total of all earlier buckets (a window over
       ≤ P rows).

    When ``order_by`` is unique per row (every caller: dims key on the
    deduped natural key, facts on the grain, packing on the document
    id), the sums depend only on the total order, never on the split
    points, which only steer partition balance — so both plans give the
    same values. Rows tying on the first order column land in one
    bucket. The output is NOT persisted here: sums are reproducible on
    re-execution, so callers own the caching decision at their
    materialization boundaries.
    """
    cols = [F.col(c).asc_nulls_last() for c in order_by]
    if bounds is None:
        parts = df.sparkSession.sparkContext.defaultParallelism
        bounds = _split_points(df, order_by[0], parts)
    if not bounds:
        single = (
            Window.partitionBy(F.lit(0))
            .orderBy(*cols)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return df.withColumn(out_col, F.coalesce(F.sum(weight).over(single), F.lit(0)))

    first = F.col(order_by[0])
    bucket = sum((first > F.lit(b)).cast("int") for b in bounds)
    bucketed = df.withColumn(
        "_pid", F.when(first.isNull(), F.lit(len(bounds))).otherwise(bucket)
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = bucketed.withColumn(
        "_lstart", F.coalesce(F.sum(weight).over(local_w), F.lit(0))
    )
    totals = bucketed.groupBy("_pid").agg(F.sum(weight).alias("_t"))
    prior = (
        Window.partitionBy(F.lit(0))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn("_off", F.coalesce(F.sum("_t").over(prior), F.lit(0)))
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .withColumn(out_col, F.col("_lstart") + F.col("_off"))
        .drop("_pid", "_lstart", "_off")
    )


def assign_surrogate_keys(
    df: DataFrame, sk_col: str, existing_max: int, order_by: list[str]
) -> DataFrame:
    """SC5: dense surrogate keys without a sequence object —
    ``existing_max + 1 + (number of rows before this one in order_by
    order)``, i.e. :func:`_ordered_offsets` with weight 1, so the probe
    picks the delta or bucketed plan. The reference seeds sequences at
    10000 (sql/schema_dwh.sql:3-6); callers pass ``existing_max=9999``
    for an empty table to match.
    """
    ranked = _ordered_offsets(df, F.lit(1), order_by, sk_col)
    return ranked.withColumn(
        sk_col, (F.col(sk_col) + F.lit(existing_max + 1)).cast("long")
    )


SEQUENCE_START = 10_000  # reference sequences start at 10000


def max_key(df: DataFrame | None, sk_col: str, default: int = SEQUENCE_START - 1) -> int:
    """Current max surrogate key (driver-side scalar; an O(1) agg)."""
    if df is None:
        return default
    row = df.agg(F.max(sk_col).alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else default
