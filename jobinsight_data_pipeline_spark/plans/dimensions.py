"""Phase 3a — dimension builders (SC1/SC2 + DimDate).

Dim configurations mirror the reference's production wiring
(/root/reference/src/etl/etl_main.py:442,449):
- DimJob:     natural key job_id; tracked title_clean, job_url, skills,
              last_update, logo_url
- DimCompany: natural key company_name_standardized; tracked company_url,
              verified_employer
- DimLocation: insert-only on (province, city, district), null-safe
- DimDate:    generated calendar, insert-missing only
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.functions.dates import dim_date_frame
from jobinsight_data_pipeline_spark.functions.location import parse_locations_udf
from jobinsight_data_pipeline_spark.operators.merge import insert_if_absent
from jobinsight_data_pipeline_spark.operators.scd2 import (
    Scd2Config,
    Scd2Result,
    insert_only_merge,
    scd2_merge,
)

DIM_JOB_CONFIG = Scd2Config(
    sk_col="job_sk",
    natural_keys=["job_id"],
    tracked_cols=["title_clean", "job_url", "skills", "last_update", "logo_url"],
)

DIM_COMPANY_CONFIG = Scd2Config(
    sk_col="company_sk",
    natural_keys=["company_name_standardized"],
    tracked_cols=["company_url", "verified_employer"],
)

DIM_LOCATION_CONFIG = Scd2Config(
    sk_col="location_sk",
    natural_keys=["province", "city", "district"],
    tracked_cols=[],
)


def prepare_dim_job(staging: DataFrame) -> DataFrame:
    """P3: null-fill semantics from the reference
    (src/processing/data_prepare.py:44)."""
    return staging.select(
        "job_id",
        F.coalesce("title_clean", F.lit("Unknown Title")).alias("title_clean"),
        "job_url",
        "skills",
        "last_update",
        "logo_url",
        "crawled_at",
    )


def prepare_dim_company(staging: DataFrame) -> DataFrame:
    """Company std name falls back to the raw name; verified_employer
    defaults false (ref src/processing/data_prepare.py:81-83)."""
    return (
        staging.select(
            F.coalesce(
                F.nullif(F.col("company_name_standardized"), F.lit("")),
                F.col("company_name"),
            ).alias("company_name_standardized"),
            "company_url",
            F.coalesce("verified_employer", F.lit(False)).alias("verified_employer"),
            "crawled_at",
        )
        .filter(F.col("company_name_standardized").isNotNull())
    )


def staging_locations() -> Column:
    """A staging row's (province, city, district) structs, parsed from its
    location_pairs, or from its refined ``location`` when it has no pairs
    (ref src/processing/data_prepare.py:351-430)."""
    return parse_locations_udf(
        F.when(
            F.col("location_pairs").isNotNull() & (F.size("location_pairs") > 0),
            F.col("location_pairs"),
        ).otherwise(
            F.when(
                F.col("location").isNotNull(), F.array(F.col("location"))
            ).otherwise(F.array().cast("array<string>"))
        )
    )


def prepare_dim_location(staging: DataFrame) -> DataFrame:
    """Distinct (province, city, district) tuples parsed from each row's
    location_pairs — plus the reference's guaranteed (NULL,'Unknown',NULL)
    fallback row."""
    parsed = staging.select(F.explode(staging_locations()).alias("loc")).select(
        "loc.province", "loc.city", "loc.district"
    )
    unknown = parsed.sparkSession.createDataFrame(
        [(None, "Unknown", None)], "province string, city string, district string"
    )
    return parsed.unionByName(unknown).dropDuplicates(["province", "city", "district"])


def build_dim_job(
    current: DataFrame | None, staging: DataFrame, run_date: dt.date
) -> Scd2Result:
    return scd2_merge(
        current, prepare_dim_job(staging), DIM_JOB_CONFIG, run_date,
        order_col="crawled_at",
    )


def build_dim_company(
    current: DataFrame | None, staging: DataFrame, run_date: dt.date
) -> Scd2Result:
    return scd2_merge(
        current,
        prepare_dim_company(staging),
        DIM_COMPANY_CONFIG,
        run_date,
        order_col="crawled_at",
    )


def build_dim_location(
    current: DataFrame | None, staging: DataFrame, run_date: dt.date
) -> Scd2Result:
    return insert_only_merge(
        current, prepare_dim_location(staging), DIM_LOCATION_CONFIG, run_date
    )


def build_dim_date(
    spark: SparkSession,
    current: DataFrame | None,
    start: dt.date,
    end: dt.date,
) -> DataFrame:
    """F14 + J6: generate the calendar span and append only missing days
    (ref src/etl/staging_to_dwh.py:495-501)."""
    generated = dim_date_frame(spark, start, end)
    return insert_if_absent(current, generated, ["date_id"])
