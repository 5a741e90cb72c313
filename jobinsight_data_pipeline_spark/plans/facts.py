"""Phase 3b — daily-grain fact + location bridge, set-based.

The reference builds facts with a Python loop over staging rows, dict
lookups for surrogate keys, and a per-row UPSERT with RETURNING
(/root/reference/src/etl/fact_handler.py:44-326, ~51 rec/s). Here the
whole phase is:

    staging ⋈(broadcast) dims → explode(5-day fan-out) → grain merge
           → explode(locations) ⋈(null-safe, broadcast) dim_location
           → bridge rebuild for affected facts

Grain (job_sk, date_id) uniqueness is enforced by construction (merge on
grain) and asserted by validation (A4) since Spark has no constraints.

Semantics preserved from the reference:
- load_month and the fact's crawled_at come from the RUN (not per-row)
  — fact_handler.py:63-64;
- on grain conflict all measures update but load_month is deliberately
  sticky — fact_handler.py:246-255 omits it from DO UPDATE;
- rows that failed dim-key resolution are dropped (with a count), not
  errors — fact_handler.py:116-120;
- bridge rows are recomputed per affected fact (DELETE + reinsert ≡
  anti-join + union) with the 'Unknown' location fallback —
  fact_handler.py:444-539.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from jobinsight_data_pipeline_spark.operators.merge import (
    assign_surrogate_keys,
    dedupe_last_write,
    max_key,
)
from jobinsight_data_pipeline_spark.plans.dimensions import staging_locations

MEASURE_COLS = [
    "salary_min",
    "salary_max",
    "salary_type",
    "due_date",
    "time_remaining",
    "verified_employer",
    "posted_time",
    "crawled_at",
]


def _current_job_keys(dim_job: DataFrame) -> DataFrame:
    """Broadcast job_id → job_sk over the CURRENT DimJob versions."""
    return broadcast(dim_job.filter(F.col("is_current")).select("job_id", "job_sk"))


def resolve_dim_keys(
    staging: DataFrame, dim_job: DataFrame, dim_company: DataFrame
) -> DataFrame:
    """J4: attach job_sk / company_sk via broadcast joins against CURRENT
    dim versions; drop unresolvable rows (P2)."""
    jobs = _current_job_keys(dim_job)
    companies = broadcast(
        dim_company.filter(F.col("is_current")).select(
            "company_name_standardized", "company_sk"
        )
    )
    return (
        staging.join(jobs, "job_id", "left")
        .join(companies, "company_name_standardized", "left")
        .filter(F.col("job_sk").isNotNull() & F.col("company_sk").isNotNull())
    )


def build_fact_batch(
    staging: DataFrame,
    dim_job: DataFrame,
    dim_company: DataFrame,
    run_ts: dt.datetime,
    fanout_days: int = 5,
) -> DataFrame:
    """Incoming fact rows at (job_sk, date_id) grain — the run-day fan-out
    (F16): each resolvable staging row × [run_date, run_date+fanout-1].
    """
    run_date = run_ts.date()
    resolved = resolve_dim_keys(staging, dim_job, dim_company)
    # one key per job per run: last write wins like the reference's loop
    resolved = dedupe_last_write(resolved, ["job_sk"], order_col="crawled_at")
    return (
        resolved.withColumn(
            "date_id",
            F.explode(
                F.sequence(
                    F.lit(run_date),
                    F.lit(run_date + dt.timedelta(days=fanout_days - 1)),
                )
            ),
        )
        .withColumn("crawled_at", F.lit(run_ts))
        .withColumn("load_month", F.lit(run_date.strftime("%Y-%m")))
        .select("job_sk", "company_sk", "date_id", *MEASURE_COLS, "load_month")
    )


def merge_facts(existing: DataFrame | None, incoming: DataFrame) -> DataFrame:
    """SC3: grain-level merge. Matched grains keep fact_id and load_month
    but take all new measures; unmatched grains get new fact_ids
    (max + 1 + rank in grain order)."""
    grain = ["job_sk", "date_id"]
    incoming = dedupe_last_write(incoming, grain, order_col="crawled_at")

    if existing is None or not existing.columns:
        return assign_surrogate_keys(
            incoming, "fact_id", max_key(None, "fact_id"), grain
        ).select("fact_id", *incoming.columns)

    inc = incoming.select(
        *[F.col(c).alias(f"_new_{c}") for c in incoming.columns]
    )
    joined = existing.join(
        inc,
        (existing["job_sk"] == inc["_new_job_sk"])
        & (existing["date_id"] == inc["_new_date_id"]),
        "left",
    )
    # matched: update measures, keep fact_id + load_month (sticky)
    updated = joined.select(
        "fact_id",
        "job_sk",
        "date_id",
        "company_sk",
        *[
            F.when(
                F.col("_new_job_sk").isNotNull(), F.col(f"_new_{c}")
            ).otherwise(F.col(c)).alias(c)
            for c in MEASURE_COLS
        ],
        "load_month",
    ).select(existing.columns)

    fresh = incoming.join(existing.select(grain[0], grain[1]), grain, "left_anti")
    fresh_keyed = assign_surrogate_keys(
        fresh, "fact_id", max_key(existing, "fact_id"), grain
    ).select(existing.columns)
    return updated.unionByName(fresh_keyed)


def dedupe_fact_grain(fact: DataFrame, bridge: DataFrame | None):
    """W1: keep MIN(fact_id) per (job_sk, date_id); repoint bridge rows of
    losers to the survivor, then dedupe bridge pairs
    (ref src/etl/fact_handler.py:541-667)."""
    from pyspark.sql import Window

    w = Window.partitionBy("job_sk", "date_id").orderBy("fact_id")
    marked = fact.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_survivor_id", F.min("fact_id").over(Window.partitionBy("job_sk", "date_id"))
    )
    survivors = marked.filter(F.col("_rn") == 1).drop("_rn", "_survivor_id")
    if bridge is None:
        return survivors, None
    mapping = marked.select(
        F.col("fact_id").alias("_old_id"), F.col("_survivor_id")
    )
    new_bridge = (
        bridge.join(mapping, bridge["fact_id"] == mapping["_old_id"], "left")
        .select(
            F.coalesce("_survivor_id", "fact_id").alias("fact_id"), "location_sk"
        )
        .dropDuplicates(["fact_id", "location_sk"])
    )
    return survivors, new_bridge


def build_bridge(
    fact: DataFrame,
    incoming: DataFrame,
    staging: DataFrame,
    dim_job: DataFrame,
    dim_location: DataFrame,
    existing_bridge: DataFrame | None,
) -> DataFrame:
    """SC4: rebuild bridge rows for the facts touched this run.

    Location tuples come from the staging rows' location_pairs via the F9
    parser; each tuple resolves against current DimLocation with null-safe
    composite equality (J5), falling back to the 'Unknown' row. Bridge
    rows of unaffected facts are kept as-is.
    """
    current_loc = dim_location.filter(F.col("is_current"))
    unknown_sk_row = (
        current_loc.filter(
            F.col("province").isNull()
            & (F.col("city") == "Unknown")
            & F.col("district").isNull()
        )
        .select("location_sk")
        .limit(1)
        .collect()
    )
    unknown_sk = unknown_sk_row[0]["location_sk"] if unknown_sk_row else None

    job_locs = (
        staging.join(_current_job_keys(dim_job), "job_id", "inner")
        .select("job_sk", F.explode(staging_locations()).alias("loc"))
        .select("job_sk", "loc.province", "loc.city", "loc.district")
        .dropDuplicates(["job_sk", "province", "city", "district"])
    )

    loc_dim = broadcast(
        current_loc.select(
            F.col("location_sk"),
            F.col("province").alias("_p"),
            F.col("city").alias("_c"),
            F.col("district").alias("_d"),
        )
    )
    # facts touched this run = grains present in the incoming batch
    affected = fact.join(
        incoming.select("job_sk", "date_id").distinct(), ["job_sk", "date_id"], "inner"
    ).select("fact_id", "job_sk")
    new_rows = (
        affected.join(job_locs, "job_sk", "left")
        .join(
            loc_dim,
            F.col("province").eqNullSafe(F.col("_p"))
            & F.col("city").eqNullSafe(F.col("_c"))
            & F.col("district").eqNullSafe(F.col("_d")),
            "left",
        )
        .select(
            "fact_id",
            F.coalesce(F.col("location_sk"), F.lit(unknown_sk)).alias("location_sk"),
        )
        .filter(F.col("location_sk").isNotNull())
        .dropDuplicates(["fact_id", "location_sk"])
    )
    if existing_bridge is None:
        return new_rows
    kept = existing_bridge.join(
        affected.select("fact_id"), "fact_id", "left_anti"
    )
    return kept.unionByName(new_rows)
