"""SCD Type 2 dimension maintenance, set-based.

The reference classifies and applies changes row-at-a-time
(/root/reference/src/etl/dimension_handler.py:40-260 — per-row SELECT +
UPDATE + INSERT, ~589 ops/s). Here the whole merge is one join + two
projections + a union — one shuffle stage, independent of row count.

Semantics preserved:
- natural-key lookup against CURRENT rows only;
- change detection = null-safe inequality on the tracked columns
  (arrays compare structurally);
- 'update' closes the old version (expiry_date=run_date,
  is_current=false) and inserts a new current version
  (effective_date=run_date, expiry_date=null);
- 'insert' adds a first version; 'unchanged' rows are untouched;
- intra-batch duplicate natural keys take last-write (the reference's
  sequential loop implicitly does this — SURVEY §7.3).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.merge import (
    SEQUENCE_START,
    assign_surrogate_keys,
    dedupe_last_write,
    max_key,
    null_safe_cond,
)


@dataclass
class Scd2Config:
    """Per-dimension SCD2 wiring (ref src/etl/etl_main.py:442,449)."""

    sk_col: str
    natural_keys: list[str]
    tracked_cols: list[str]
    attr_cols: list[str] = field(default_factory=list)  # carried, untracked


class Scd2Result:
    """Merge result. ``dim`` is the new dimension table; ``stats``
    ({inserted, updated, unchanged}) is computed LAZILY on first access —
    reading it costs extra Spark jobs, not reading it costs nothing.
    The stats re-read the dimension the merge started from, so read them
    before anything deletes that input — a lake write that vacuums the
    previous version (``keep_versions=1``) does."""

    def __init__(self, dim: DataFrame, stats_fn: Callable[[], dict[str, int]]):
        self.dim = dim
        self._stats_fn = stats_fn
        self._stats: dict[str, int] | None = None

    @property
    def stats(self) -> dict[str, int]:
        if self._stats is None:
            self._stats = self._stats_fn()
        return self._stats


def _with_version_cols(df: DataFrame, run_date: dt.date) -> DataFrame:
    return (
        df.withColumn("effective_date", F.lit(run_date))
        .withColumn("expiry_date", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_merge(
    current_dim: DataFrame | None,
    incoming: DataFrame,
    config: Scd2Config,
    run_date: dt.date,
    order_col: str | None = None,
) -> Scd2Result:
    """SC1: merge an incoming batch (natural key + tracked + attr columns)
    into an SCD2 dimension. Returns the new dimension table plus lazily
    computed {inserted, updated, unchanged} counts (see Scd2Result).
    """
    nk = config.natural_keys
    value_cols = nk + config.tracked_cols + config.attr_cols
    # dedupe BEFORE projecting: order_col may not be a dim column
    batch = dedupe_last_write(incoming, nk, order_col).select(*value_cols)

    if current_dim is None or not current_dim.columns:
        new_rows = assign_surrogate_keys(
            _with_version_cols(batch, run_date), config.sk_col, SEQUENCE_START - 1, nk
        )
        dim = new_rows.select(
            config.sk_col, *value_cols, "effective_date", "expiry_date", "is_current"
        )
        return Scd2Result(
            dim, lambda: {"inserted": dim.count(), "updated": 0, "unchanged": 0}
        )

    current = current_dim.filter(F.col("is_current"))
    cur_vals = current.select(
        *[F.col(c).alias(f"_cur_{c}") for c in value_cols + [config.sk_col]]
    )
    join_cond = None
    for k in nk:
        c = batch[k].eqNullSafe(cur_vals[f"_cur_{k}"])
        join_cond = c if join_cond is None else (join_cond & c)

    # classify each incoming natural key in one pass (J8)
    changed = None
    for c in config.tracked_cols:
        diff = ~batch[c].eqNullSafe(cur_vals[f"_cur_{c}"])
        changed = diff if changed is None else (changed | diff)
    if changed is None:  # no tracked cols → never 'update'
        changed = F.lit(False)

    classified = batch.join(cur_vals, join_cond, "left").withColumn(
        "_action",
        F.when(F.col(f"_cur_{config.sk_col}").isNull(), F.lit("insert"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged")),
    )

    to_version = classified.filter(F.col("_action").isin("insert", "update")).select(
        *value_cols, "_action"
    )
    updated_keys = to_version.filter(F.col("_action") == "update").select(*nk)

    # close old versions of updated keys
    close_cond = null_safe_cond(current_dim, updated_keys, nk)
    is_closing = (
        F.col("is_current")
        & F.coalesce(F.col("_match"), F.lit(False))
    )
    base = (
        current_dim.join(
            updated_keys.withColumn("_match", F.lit(True)),
            close_cond,
            "left",
        )
        .select(current_dim["*"], F.col("_match"))
        .withColumn(
            "expiry_date",
            F.when(is_closing, F.lit(run_date)).otherwise(F.col("expiry_date")),
        )
        .withColumn(
            "is_current",
            F.when(is_closing, F.lit(False)).otherwise(F.col("is_current")),
        )
        .drop("_match")
    )

    new_rows = assign_surrogate_keys(
        _with_version_cols(to_version.drop("_action"), run_date),
        config.sk_col,
        max_key(current_dim, config.sk_col),
        nk,
    ).select(base.columns)

    dim = base.unionByName(new_rows)

    def stats_fn() -> dict[str, int]:
        counts = {
            r["_action"]: r["n"]
            for r in classified.groupBy("_action").agg(F.count("*").alias("n")).collect()
        }
        return {
            "inserted": counts.get("insert", 0),
            "updated": counts.get("update", 0),
            "unchanged": counts.get("unchanged", 0),
        }

    return Scd2Result(dim, stats_fn)


def insert_only_merge(
    current_dim: DataFrame | None,
    incoming: DataFrame,
    config: Scd2Config,
    run_date: dt.date,
) -> Scd2Result:
    """SC2: insert-only dimension (DimLocation) — existing natural keys
    (null-safe composite compare) are skipped, new ones appended as
    current rows; versions are never closed
    (ref src/etl/dimension_handler.py:262-321)."""
    nk = config.natural_keys
    value_cols = nk + config.tracked_cols + config.attr_cols
    batch = incoming.select(*value_cols).dropDuplicates(nk)

    if current_dim is None or not current_dim.columns:
        fresh = batch
        start = SEQUENCE_START - 1
        dim_base = None
    else:
        fresh = batch.join(
            current_dim.select(*nk), null_safe_cond(batch, current_dim, nk), "left_anti"
        )
        start = max_key(current_dim, config.sk_col)
        dim_base = current_dim

    new_rows = assign_surrogate_keys(
        _with_version_cols(fresh, run_date), config.sk_col, start, nk
    ).select(
        config.sk_col, *value_cols, "effective_date", "expiry_date", "is_current"
    )
    dim = new_rows if dim_base is None else dim_base.unionByName(new_rows)
    return Scd2Result(
        dim, lambda: {"inserted": new_rows.count(), "updated": 0, "unchanged": 0}
    )
