"""Phase 5 — data-quality validation suite (V1–V8).

Mirrors /root/reference/src/utils/etl_validator.py: each check is a
set-based count (groupBy-having or anti-join), assembled into a report
dict; 'critical' failures gate the ETL
(ref src/etl/staging_to_dwh.py:554-569).

All checks are lazy DataFrame counts — on a cluster they run as a handful
of small aggregation jobs over the (already partitioned) warehouse,
submitted together so the scheduler runs them side by side.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.parallelism import concurrently


@dataclass
class CheckResult:
    name: str
    severity: str  # 'critical' | 'warning' | 'info'
    failed_count: int
    detail: str = ""

    @property
    def passed(self) -> bool:
        return self.failed_count == 0


def duplicate_current_keys(dim: DataFrame, natural_keys: list[str]) -> int:
    """V1: >1 is_current row per natural key (A4 shape)."""
    return (
        dim.filter(F.col("is_current"))
        .groupBy(*natural_keys)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def calendar_gaps(dim_date: DataFrame) -> int:
    """V2: expected_days(min..max) − actual_days."""
    row = dim_date.agg(
        F.min("date_id").alias("lo"),
        F.max("date_id").alias("hi"),
        F.count("*").alias("n"),
    ).collect()[0]
    if row["lo"] is None:
        return 0
    expected = (row["hi"] - row["lo"]).days + 1
    return expected - row["n"]


def orphaned_facts(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, current_only: bool = True
) -> int:
    """V3/J7: facts pointing at no (current) dim row."""
    d = dim.filter(F.col("is_current")) if current_only and "is_current" in dim.columns else dim
    return fact.join(
        d.select(F.col(dim_key).alias(fact_key)), fact_key, "left_anti"
    ).count()


def null_criticals(df: DataFrame, cols: list[str]) -> dict[str, int]:
    """V4: NULL counts on must-have columns."""
    agg = df.agg(
        *[F.sum(F.col(c).isNull().cast("int")).alias(c) for c in cols]
    ).collect()[0]
    return {c: int(agg[c] or 0) for c in cols}


def salary_inversions(fact: DataFrame) -> int:
    """V5: salary_min > salary_max."""
    return fact.filter(F.col("salary_min") > F.col("salary_max")).count()


def future_posted(fact: DataFrame, as_of: dt.datetime) -> int:
    """V5: posted_time in the future relative to as_of."""
    return fact.filter(F.col("posted_time") > F.lit(as_of)).count()


def duplicate_fact_grain(fact: DataFrame) -> int:
    """A4: grain uniqueness — (job_sk, date_id) must be unique."""
    return (
        fact.groupBy("job_sk", "date_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def facts_without_bridge(fact: DataFrame, bridge: DataFrame) -> int:
    """V6."""
    return fact.join(bridge.select("fact_id"), "fact_id", "left_anti").count()


def scd2_overlaps(dim: DataFrame, natural_keys: list[str]) -> int:
    """Property check (SURVEY §5.3): no overlapping effective ranges per
    natural key — a closed version's expiry must not exceed the next
    version's effective date."""
    from pyspark.sql import Window

    w = Window.partitionBy(*natural_keys).orderBy("effective_date")
    nxt = F.lead("effective_date").over(w)
    return (
        dim.withColumn("_next_eff", nxt)
        .filter(
            F.col("_next_eff").isNotNull()
            & (
                F.col("expiry_date").isNull()
                | (F.col("expiry_date") > F.col("_next_eff"))
            )
        )
        .count()
    )


def validate_warehouse(
    dim_job: DataFrame,
    dim_company: DataFrame,
    dim_location: DataFrame,
    dim_date: DataFrame,
    fact: DataFrame,
    bridge: DataFrame,
    as_of: dt.datetime,
) -> dict:
    """V8: assemble the full report; 'passed' is False iff any critical
    check fails (the reference's severity gate). The checks are
    independent scans, so they run concurrently."""
    specs = [
        ("dup_current_job_keys", "critical", lambda: duplicate_current_keys(dim_job, ["job_id"])),
        (
            "dup_current_company_keys",
            "critical",
            lambda: duplicate_current_keys(dim_company, ["company_name_standardized"]),
        ),
        (
            "dup_current_location_keys",
            "critical",
            lambda: duplicate_current_keys(dim_location, ["province", "city", "district"]),
        ),
        ("calendar_gaps", "warning", lambda: calendar_gaps(dim_date)),
        # facts referencing a CLOSED dim version are expected under SCD2
        # (the reference logs them but never gates — etl_validator.py:104-127);
        # referential integrity against ANY version is the hard invariant.
        (
            "orphan_fact_job_current",
            "warning",
            lambda: orphaned_facts(fact, dim_job, "job_sk", "job_sk"),
        ),
        (
            "orphan_fact_job_any",
            "critical",
            lambda: orphaned_facts(fact, dim_job, "job_sk", "job_sk", current_only=False),
        ),
        (
            "orphan_fact_company_current",
            "warning",
            lambda: orphaned_facts(fact, dim_company, "company_sk", "company_sk"),
        ),
        (
            "orphan_fact_company_any",
            "critical",
            lambda: orphaned_facts(fact, dim_company, "company_sk", "company_sk", current_only=False),
        ),
        (
            "orphan_bridge_location",
            "critical",
            lambda: orphaned_facts(bridge, dim_location, "location_sk", "location_sk", current_only=False),
        ),
        (
            "orphan_bridge_fact",
            "critical",
            lambda: orphaned_facts(bridge, fact.select("fact_id"), "fact_id", "fact_id", False),
        ),
        ("dup_fact_grain", "critical", lambda: duplicate_fact_grain(fact)),
        ("salary_inversions", "warning", lambda: salary_inversions(fact)),
        ("future_posted_time", "warning", lambda: future_posted(fact, as_of)),
        ("facts_without_bridge", "warning", lambda: facts_without_bridge(fact, bridge)),
        ("scd2_overlap_job", "critical", lambda: scd2_overlaps(dim_job, ["job_id"])),
        (
            "scd2_overlap_company",
            "critical",
            lambda: scd2_overlaps(dim_company, ["company_name_standardized"]),
        ),
    ]
    *counts, job_nulls, location_nulls = concurrently(
        fact.sparkSession,
        *[run for _, _, run in specs],
        lambda: null_criticals(dim_job.filter(F.col("is_current")), ["title_clean"]),
        lambda: null_criticals(dim_location.filter(F.col("is_current")), ["city"]),
    )
    checks = [
        CheckResult(name, severity, n) for (name, severity, _), n in zip(specs, counts)
    ]
    null_report = job_nulls | location_nulls
    critical_failures = [c.name for c in checks if c.severity == "critical" and not c.passed]
    return {
        "checks": {c.name: c.failed_count for c in checks},
        "null_criticals": null_report,
        "critical_failures": critical_failures,
        "passed": not critical_failures,
    }
