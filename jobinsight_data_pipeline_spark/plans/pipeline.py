"""End-to-end orchestration: raw → staging → star schema over a lake.

This replaces the reference's two Airflow DAGs + three engines
(/root/reference/dags/etl_pipeline.py:189-246) with a thin sequencer over
pure DataFrame plans. Each phase is independently callable; state lives
only in the lake.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from jobinsight_data_pipeline_spark.operators.merge import upsert_by_key
from jobinsight_data_pipeline_spark.operators.parallelism import concurrently
from jobinsight_data_pipeline_spark.plans import facts as facts_plan
from jobinsight_data_pipeline_spark.plans import validation
from jobinsight_data_pipeline_spark.plans.dimensions import (
    build_dim_company,
    build_dim_date,
    build_dim_job,
    build_dim_location,
)
from jobinsight_data_pipeline_spark.plans.raw_to_staging import (
    incremental_batch,
    raw_to_staging,
    verify_integrity,
)
from jobinsight_data_pipeline_spark.sources.lake import ParquetLake


def ingest_raw(lake: ParquetLake, batch: DataFrame) -> DataFrame:
    """S5: upsert a crawled batch into raw_jobs (job_id key, last write
    wins by crawled_at)."""
    spark = batch.sparkSession
    merged = upsert_by_key(
        lake.read(spark, "raw_jobs"), batch, ["job_id"], order_col="crawled_at"
    )
    lake.write(merged, "raw_jobs")
    return lake.read(spark, "raw_jobs")


def run_raw_to_staging(
    lake: ParquetLake, spark: SparkSession, as_of: dt.datetime
) -> dict:
    raw = lake.read(spark, "raw_jobs")
    if raw is None:
        return {"source_rows": 0, "output_rows": 0, "passed": True}
    derived = raw_to_staging(raw, as_of)
    merged = upsert_by_key(
        lake.read(spark, "staging_jobs"), derived, ["job_id"], order_col="crawled_at"
    )
    lake.write(merged, "staging_jobs")
    src, out = concurrently(spark, raw.count, lake.read(spark, "staging_jobs").count)
    return verify_integrity(src, out)


def run_staging_to_dwh(
    lake: ParquetLake,
    spark: SparkSession,
    run_ts: dt.datetime,
    lookback_days: int = 7,
    fanout_days: int = 5,
    collect_stats: bool = True,
) -> dict:
    """Phase 3: dims (SCD2) → facts (grain merge) → bridge → validation.

    Reads the staging rows crawled within the lookback window (S3),
    exactly like the reference's incremental batch, and is idempotent —
    re-running the same day merges to the same state.

    Independent steps run concurrently (``parallelism.concurrently``):
    the four dimensions each build, write and re-read in their own
    branch; the fact merge starts as soon as dim_job and dim_company are
    written, beside dim_location and dim_date; the bridge follows the
    fact and dim_location; the fact/bridge counts run beside validation.

    ``collect_stats=False`` skips the observability collects (validation
    report — ~49 Spark jobs — plus dim insert/update counts, ~11, and
    fact/bridge row counts, ~4) without changing any written state;
    callers that only need the warehouse mutated (the streaming gate,
    tight-loop tests) use it to avoid paying fixed per-job overhead on
    tiny batches.
    """
    run_date = run_ts.date()
    staging_full = lake.read(spark, "staging_jobs")
    if staging_full is None:
        return {"status": "empty", "passed": True}
    staging = incremental_batch(staging_full, run_ts, lookback_days)

    # --- dimensions
    dim_stats: dict[str, dict] = {}

    def dimension(table: str, build):
        def step():
            r = build(lake.read(spark, table), staging, run_date)
            if collect_stats:
                # the stats read the previous version, which the write
                # may vacuum (keep_versions=1) — collect them first
                dim_stats[table] = r.stats
            lake.write(r.dim, table)
            return lake.read(spark, table)

        return step

    def calendar():
        # calendar spanning the fan-out plus the reference's ±(90,180) clamp
        dim_date = build_dim_date(
            spark,
            lake.read(spark, "dim_date"),
            run_date - dt.timedelta(days=90),
            run_date + dt.timedelta(days=180),
        )
        lake.write(dim_date, "dim_date")
        return lake.read(spark, "dim_date")

    # --- facts, once the dims they resolve keys against are written
    def fact_branch():
        dim_job, dim_company = concurrently(
            spark,
            dimension("dim_job", build_dim_job),
            dimension("dim_company", build_dim_company),
        )
        incoming = facts_plan.build_fact_batch(
            staging, dim_job, dim_company, run_ts, fanout_days
        )
        merged_fact = facts_plan.merge_facts(
            lake.read(spark, "fact_job_posting_daily"), incoming
        )
        lake.write(merged_fact, "fact_job_posting_daily", partition_by=["load_month"])
        fact = lake.read(spark, "fact_job_posting_daily")
        return dim_job, dim_company, incoming, fact

    (dim_job, dim_company, incoming, fact), dim_location, dim_date = concurrently(
        spark,
        fact_branch,
        dimension("dim_location", build_dim_location),
        calendar,
    )

    bridge = facts_plan.build_bridge(
        fact,
        incoming,
        staging,
        dim_job,
        dim_location,
        lake.read(spark, "fact_job_location_bridge"),
    )
    lake.write(bridge, "fact_job_location_bridge")
    bridge = lake.read(spark, "fact_job_location_bridge")

    if not collect_stats:
        return {"status": "ok", "passed": True}
    report, fact_rows, bridge_rows = concurrently(
        spark,
        lambda: validation.validate_warehouse(
            dim_job, dim_company, dim_location, dim_date, fact, bridge, run_ts
        ),
        fact.count,
        bridge.count,
    )
    report["dim_stats"] = {
        t: dim_stats[t] for t in ("dim_job", "dim_company", "dim_location")
    }
    report["fact_rows"] = fact_rows
    report["bridge_rows"] = bridge_rows
    return report


def run_full_pipeline(
    lake: ParquetLake, spark: SparkSession, raw_batch: DataFrame, run_ts: dt.datetime
) -> dict:
    """Crawl-output → warehouse in one call (the two DAGs end-to-end).
    Each phase runs under a performance monitor (wall / jobs / driver
    heap — the reference timed its phases the same way,
    src/etl/raw_to_staging.py:65-108); the measurements come back in the
    report under ``perf``."""
    from jobinsight_data_pipeline_spark.observability import performance_monitor

    perf: list[dict] = []
    with performance_monitor(spark, "Raw Ingest", perf):
        ingest_raw(lake, raw_batch)
    with performance_monitor(spark, "Raw to Staging", perf):
        staging_report = run_raw_to_staging(lake, spark, run_ts)
    with performance_monitor(spark, "Staging to DWH", perf):
        dwh_report = run_staging_to_dwh(lake, spark, run_ts)
    return {"staging": staging_report, "dwh": dwh_report, "perf": perf}
