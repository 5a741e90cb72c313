"""End-to-end warehouse-build parity: the JobInsight star schema built by
the ENGINE (scd2_merge + build_fact_batch + merge_facts) from staging
rows constructed out of ``orders``, aggregated like the reference's
top-companies/monthly views — against a pure-SQL oracle that reproduces
the single-batch semantics (surrogate keys = 9999 + row_number over the
natural-key order, 5-day fan-out, run-stamped load_month).

This puts the dimensional pipeline itself — not just its scalar parts —
under the driver's hash-match gate. Values that could differ between
arbitrary survivors of intra-batch dedup are constructed as functions of
the natural key, so last-write-wins arbitrariness cannot affect results.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.catalog import load, memo, scratch_dir
from jobinsight_data_pipeline_spark.operators.scd2 import scd2_merge
from jobinsight_data_pipeline_spark.plans import facts as facts_plan
from jobinsight_data_pipeline_spark.plans.dimensions import (
    DIM_COMPANY_CONFIG,
    DIM_JOB_CONFIG,
)

RUN_TS = dt.datetime(1998, 6, 1, 12, 0, 0)

# portable staging construction (runs verbatim in Spark SQL and DuckDB);
# verified_employer is a function of the company key on purpose (see
# module docstring).
#
# Every staging fragment below takes a deterministic ~10% slice of orders
# (mod filters on o_orderkey). Round 2's full-size gates blew the driver's
# correctness time budget and truncated the last 6 queries; the slice keeps
# every branch of the dimensional state machine firing (insert/update/
# unchanged, overlap/fresh grains, NULL→Unknown locations) at a tenth of
# the wall. Sub-conditions that used to key off mod 2/4/5/8 are scaled to
# mod 20/40/50/80/100 so they still split the sliced keys (multiples of 10
# are all ≡0 mod 5, etc.).
STAGING_SQL = """
SELECT
    CAST(o_orderkey AS STRING)                           AS job_id,
    concat('Job ', CAST(mod(o_orderkey, 50) AS STRING))  AS title_clean,
    CAST(NULL AS STRING)                                 AS job_url,
    CAST(NULL AS STRING)                                 AS last_update,
    CAST(NULL AS STRING)                                 AS logo_url,
    concat('Co ', CAST(mod(o_custkey, 40) AS STRING))    AS company_name_standardized,
    concat('Co ', CAST(mod(o_custkey, 40) AS STRING))    AS company_name,
    CAST(NULL AS STRING)                                 AS company_url,
    (mod(mod(o_custkey, 40), 2) = 0)                     AS verified_employer,
    CAST(mod(o_orderkey, 50) AS DOUBLE)                  AS salary_min,
    CAST(mod(o_orderkey, 50) + 10 AS DOUBLE)             AS salary_max,
    'range'                                              AS salary_type,
    o_orderdate                                          AS posted_time,
    o_orderdate                                          AS due_date,
    CAST(NULL AS STRING)                                 AS time_remaining,
    TIMESTAMP '1998-06-01 09:00:00'                      AS crawled_at
FROM orders
WHERE mod(o_orderkey, 10) = 0
"""


def _flat_warehouse(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The shared bulk single-batch warehouse for q_warehouse_rollup and
    q_top10_avg_salary (identical STAGING_SQL, dims, and fact build —
    building it twice was pure waste): staging cached (each key
    assigner's sizing job plus the twice-consumed dims would otherwise
    re-execute the staging SQL subtree, ~3s of wall at sf0.1); at this
    size the probe picks the bucketed no-global-sort key plan, so that
    path itself sits under both hash-match gates."""

    def build() -> list[DataFrame]:
        load(spark, sf_dir, "orders")
        staging = spark.sql(STAGING_SQL).withColumn(
            "skills", F.lit(None).cast("array<string>")
        ).cache()
        run_date = RUN_TS.date()
        dim_job = scd2_merge(None, staging, DIM_JOB_CONFIG, run_date).dim.cache()
        dim_company = scd2_merge(None, staging, DIM_COMPANY_CONFIG, run_date).dim.cache()
        incoming = facts_plan.build_fact_batch(staging, dim_job, dim_company, RUN_TS)
        fact = facts_plan.merge_facts(None, incoming).cache()
        return [staging, dim_job, dim_company, fact]

    return memo(spark, "flat_warehouse", sf_dir, build)


def q_warehouse_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _staging, _dim_job, dim_company, fact = _flat_warehouse(spark, sf_dir)
    return (
        fact.join(
            dim_company.select("company_sk", "company_name_standardized"),
            "company_sk",
        )
        .groupBy("company_sk", "company_name_standardized")
        .agg(
            F.countDistinct("job_sk").alias("job_count"),
            F.count("*").alias("fact_count"),
            F.max("job_sk").alias("max_job_sk"),
            F.round(F.avg("salary_min"), 2).alias("avg_salary_min"),
            F.round(F.avg("salary_max"), 2).alias("avg_salary_max"),
            F.max("load_month").alias("load_month"),
            F.max(F.col("verified_employer").cast("int")).cast("boolean").alias(
                "verified_employer"
            ),
        )
    )


O_WAREHOUSE_ROLLUP = f"""
WITH staging AS ({STAGING_SQL}),
dim_job AS (
    SELECT job_id, 9999 + row_number() OVER (ORDER BY job_id) AS job_sk
    FROM staging
),
dim_company AS (
    SELECT company_name_standardized,
           9999 + row_number() OVER (ORDER BY company_name_standardized) AS company_sk
    FROM (SELECT DISTINCT company_name_standardized FROM staging)
),
fact AS (
    SELECT j.job_sk, c.company_sk, s.salary_min, s.salary_max,
           s.verified_employer, '1998-06' AS load_month,
           CAST(unnest(generate_series(DATE '1998-06-01', DATE '1998-06-05',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM staging s
    JOIN dim_job j ON s.job_id = j.job_id
    JOIN dim_company c ON s.company_name_standardized = c.company_name_standardized
)
SELECT company_sk, company_name_standardized,
       count(DISTINCT job_sk) AS job_count,
       count(*) AS fact_count,
       max(job_sk) AS max_job_sk,
       round(avg(salary_min), 2) AS avg_salary_min,
       round(avg(salary_max), 2) AS avg_salary_max,
       max(load_month) AS load_month,
       CAST(max(CAST(verified_employer AS INT)) AS BOOLEAN) AS verified_employer
FROM fact
JOIN dim_company USING (company_sk)
GROUP BY company_sk, company_name_standardized
"""

# --------------------------------------------------------------------------
# views layer under the gate: vw_job_salary_filter over an engine-built
# warehouse INCLUDING the location bridge (J3's mixed inner+left joins
# with the null-tolerant is_current predicate, P4's salary/expiry filter).
# Locations use two constructed shapes — 'CityX: DY' and NULL→Unknown —
# the full parser heuristics are gated separately by location_parse.
# --------------------------------------------------------------------------
STAGING_LOC_SQL = STAGING_SQL.replace(
    "FROM orders",
    """,
    CASE WHEN mod(o_orderkey, 50) = 0 THEN NULL
         ELSE concat('City', CAST(mod(o_orderkey, 7) AS STRING), ': D',
                     CAST(mod(o_orderkey, 3) AS STRING))
    END AS location,
    o_orderdate + CAST(mod(o_orderkey, 120) AS INT) * INTERVAL 1 DAY AS due_dt
FROM orders
""",
).replace(
    "o_orderdate                                          AS due_date,",
    "CAST(NULL AS TIMESTAMP)                              AS _unused_due,",
)


def _ensure_views_warehouse(spark: SparkSession, sf_dir: str):
    """Build the location-bearing engine warehouse (dims via scd2_merge /
    insert_only_merge, fact via build_fact_batch + merge_facts, bridge via
    build_bridge) and register the DWH temp views over it. Memoized per
    sf_dir — the dims/fact/bridge DataFrames are .cache()d so the five
    view gates don't re-run the dimensional pipeline each, and the temp
    views hold one warehouse at a time."""
    from jobinsight_data_pipeline_spark.plans import views as views_plan
    from jobinsight_data_pipeline_spark.plans.dimensions import (
        build_dim_location,
    )

    def build() -> list[DataFrame]:
        load(spark, sf_dir, "orders")
        staging = (
            spark.sql(STAGING_LOC_SQL)
            .withColumn("skills", F.lit(None).cast("array<string>"))
            .withColumn(
                "location_pairs",
                F.when(
                    F.col("location").isNotNull(), F.array("location")
                ).otherwise(F.array().cast("array<string>")),
            )
            .withColumn("due_date", F.col("due_dt"))
            # lazy cache for the sizing jobs (see q_warehouse_rollup)
            .cache()
        )
        run_date = RUN_TS.date()

        dim_job = scd2_merge(None, staging, DIM_JOB_CONFIG, run_date).dim.cache()
        dim_company = scd2_merge(None, staging, DIM_COMPANY_CONFIG, run_date).dim.cache()
        dim_location = build_dim_location(None, staging, run_date).dim.cache()
        incoming = facts_plan.build_fact_batch(staging, dim_job, dim_company, RUN_TS)
        fact = facts_plan.merge_facts(None, incoming).cache()
        bridge = facts_plan.build_bridge(
            fact, incoming, staging, dim_job, dim_location, None
        ).cache()
        dim_date = spark.createDataFrame([], "date_id date, day int, month int, quarter int, year int, weekday string")
        views_plan.register_dwh_views(
            spark, dim_job, dim_company, dim_location, dim_date, fact, bridge
        )
        return [staging, dim_job, dim_company, dim_location, fact, bridge]

    memo(spark, "views_warehouse", sf_dir, build)
    return views_plan


def q_views_salary_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    views_plan = _ensure_views_warehouse(spark, sf_dir)
    out = views_plan.vw_job_salary_filter(spark, RUN_TS.date())
    return out.select(
        "job_id",
        "title_clean",
        "company_name_standardized",
        "salary_min",
        "salary_max",
        "due_date",  # TIMESTAMP_NTZ: collected wall-clock equals DuckDB's
        "province",
        "city",
        "district",
    )


# shared oracle warehouse: reproduces the engine's surrogate assignment
# (9999 + row_number over natural-key order), 5-day fan-out, fact_id order
# (job_sk, date_id), and the bridge's NULL→Unknown location mapping — every
# view oracle below selects off these CTEs
O_VIEWS_CTES = f"""
WITH staging AS ({STAGING_LOC_SQL}),
dim_job AS (
    SELECT job_id, title_clean, 9999 + row_number() OVER (ORDER BY job_id) AS job_sk
    FROM staging
),
dim_company AS (
    SELECT company_name_standardized, verified_employer,
           9999 + row_number() OVER (ORDER BY company_name_standardized) AS company_sk
    FROM (SELECT DISTINCT company_name_standardized, verified_employer FROM staging)
),
locs AS (
    SELECT DISTINCT
           CAST(NULL AS VARCHAR) AS province,
           trim(split_part(location, ':', 1)) AS city,
           trim(split_part(location, ':', 2)) AS district
    FROM staging WHERE location IS NOT NULL
    UNION
    SELECT CAST(NULL AS VARCHAR), 'Unknown', CAST(NULL AS VARCHAR)
),
dim_location AS (
    SELECT province, city, district,
           9999 + row_number() OVER (
               ORDER BY province ASC NULLS LAST, city ASC NULLS LAST,
                        district ASC NULLS LAST) AS location_sk
    FROM locs
),
fact0 AS (
    SELECT j.job_sk, c.company_sk, s.job_id, s.title_clean,
           s.company_name_standardized, c.verified_employer,
           s.salary_min, s.salary_max,
           s.due_dt AS due_date, s.location, '1998-06' AS load_month,
           CAST(unnest(generate_series(DATE '1998-06-01', DATE '1998-06-05',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM staging s
    JOIN dim_job j ON s.job_id = j.job_id
    JOIN dim_company c ON s.company_name_standardized = c.company_name_standardized
),
fact AS (
    SELECT *, 9999 + row_number() OVER (ORDER BY job_sk, date_id) AS fact_id
    FROM fact0
),
bridge AS (
    SELECT DISTINCT f.fact_id, f.job_sk, f.date_id, l.location_sk,
           l.province, l.city, l.district
    FROM fact f
    JOIN dim_location l
      ON l.city IS NOT DISTINCT FROM (CASE WHEN f.location IS NULL THEN 'Unknown'
                                           ELSE trim(split_part(f.location, ':', 1)) END)
     AND l.district IS NOT DISTINCT FROM (CASE WHEN f.location IS NULL THEN CAST(NULL AS VARCHAR)
                                               ELSE trim(split_part(f.location, ':', 2)) END)
)
"""

O_VIEWS_SALARY_FILTER = O_VIEWS_CTES + """
SELECT DISTINCT
    f.job_id, f.title_clean, f.company_name_standardized,
    f.salary_min, f.salary_max, f.due_date,
    b.province, b.city, b.district
FROM fact f
LEFT JOIN bridge b ON f.job_sk = b.job_sk AND f.date_id = b.date_id
WHERE f.salary_min >= 10.00
  AND f.salary_max <= 20.00
  AND f.due_date >= DATE '1998-06-01'
  AND f.salary_min IS NOT NULL
  AND f.salary_max IS NOT NULL
"""

# --------------------------------------------------------------------------
# The remaining 5 reference views (schema_dwh.sql:91-143) over the same
# engine-built warehouse. Each gate selects the view's stable scalar columns
# (skills arrays and date_trunc timestamps are normalized) so the driver's
# sorted-column value hash is well-defined.
# --------------------------------------------------------------------------
def q_view_current_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    views_plan = _ensure_views_warehouse(spark, sf_dir)
    return views_plan.vw_current_jobs(spark).select(
        "job_sk",
        "job_id",
        "title_clean",
        "company_name_standardized",
        "verified_employer",
    )


O_VIEW_CURRENT_JOBS = O_VIEWS_CTES + """
SELECT job_sk, job_id, title_clean, company_name_standardized, verified_employer
FROM fact
"""


def q_view_job_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    views_plan = _ensure_views_warehouse(spark, sf_dir)
    return views_plan.vw_job_locations(spark).select(
        "fact_id", "job_sk", "date_id", "province", "city", "district"
    )


O_VIEW_JOB_LOCATIONS = O_VIEWS_CTES + """
SELECT fact_id, job_sk, date_id, province, city, district
FROM bridge
"""


def q_view_monthly_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    views_plan = _ensure_views_warehouse(spark, sf_dir)
    out = views_plan.vw_monthly_jobs(spark)
    # Spark's DATE_TRUNC returns TIMESTAMP; cast to DATE to match DuckDB
    return out.select(
        "load_month",
        F.col("month").cast("date").alias("month"),
        "job_count",
        "company_count",
        F.round("avg_salary_min", 2).alias("avg_salary_min"),
        F.round("avg_salary_max", 2).alias("avg_salary_max"),
    )


O_VIEW_MONTHLY_JOBS = O_VIEWS_CTES + """
SELECT load_month,
       CAST(date_trunc('month', date_id) AS DATE) AS month,
       count(DISTINCT job_sk) AS job_count,
       count(DISTINCT company_sk) AS company_count,
       round(avg(salary_min), 2) AS avg_salary_min,
       round(avg(salary_max), 2) AS avg_salary_max
FROM fact
GROUP BY load_month, CAST(date_trunc('month', date_id) AS DATE)
"""


def q_view_monthly_jobs_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 grouping-sets variant of the monthly view: detail rows +
    load_month subtotals + grand total from one fact scan, gid
    disambiguating subtotal NULLs (DuckDB GROUPING and Spark GROUPING_ID
    share the first-arg-is-MSB bit order — verified empirically)."""
    views_plan = _ensure_views_warehouse(spark, sf_dir)
    return views_plan.vw_monthly_jobs_sets(spark)


O_VIEW_MONTHLY_JOBS_SETS = O_VIEWS_CTES + """
SELECT load_month,
       CAST(date_trunc('month', date_id) AS DATE) AS month,
       CAST(GROUPING(load_month, CAST(date_trunc('month', date_id) AS DATE))
            AS INTEGER) AS gid,
       count(DISTINCT job_sk) AS job_count,
       count(DISTINCT company_sk) AS company_count,
       round(avg(salary_min), 2) AS avg_salary_min,
       round(avg(salary_max), 2) AS avg_salary_max
FROM fact
GROUP BY GROUPING SETS
    ((load_month, CAST(date_trunc('month', date_id) AS DATE)),
     (load_month), ())
"""


def q_view_top_companies(spark: SparkSession, sf_dir: str) -> DataFrame:
    views_plan = _ensure_views_warehouse(spark, sf_dir)
    return views_plan.vw_top_companies(spark)


O_VIEW_TOP_COMPANIES = O_VIEWS_CTES + """
SELECT company_name_standardized, verified_employer,
       count(DISTINCT job_sk) AS job_count
FROM fact
GROUP BY company_name_standardized, verified_employer
"""


def q_view_top_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    views_plan = _ensure_views_warehouse(spark, sf_dir)
    return views_plan.vw_top_locations(spark)


O_VIEW_TOP_LOCATIONS = O_VIEWS_CTES + """
SELECT coalesce(province, 'Unknown') AS province, city,
       count(DISTINCT job_sk) AS job_count
FROM bridge
GROUP BY province, city
"""


# --------------------------------------------------------------------------
# SCD2 UPDATE path under the gate: two-batch evolution. Batch 1 inserts
# every job; batch 2 re-crawls half of them, a quarter with a changed
# title → those close (expiry_date, is_current=false) and get a new
# version with a fresh surrogate key (max_sk + row_number); unchanged
# re-crawls do nothing. The oracle reproduces the whole state machine.
# --------------------------------------------------------------------------
D1_SQL = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       concat('T', CAST(mod(o_orderkey, 9) AS STRING)) AS title_clean,
       CAST(NULL AS STRING) AS job_url,
       CAST(NULL AS STRING) AS last_update,
       CAST(NULL AS STRING) AS logo_url
FROM orders
WHERE mod(o_orderkey, 10) = 0
"""

D2_SQL = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       CASE WHEN mod(o_orderkey, 40) = 0
            THEN concat('T', CAST(mod(o_orderkey, 9) AS STRING), 'v2')
            ELSE concat('T', CAST(mod(o_orderkey, 9) AS STRING))
       END AS title_clean,
       CAST(NULL AS STRING) AS job_url,
       CAST(NULL AS STRING) AS last_update,
       CAST(NULL AS STRING) AS logo_url
FROM orders
WHERE mod(o_orderkey, 20) = 0
"""


def q_scd2_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_sk = F.lit(None).cast("array<string>")

    def build() -> list[DataFrame]:
        load(spark, sf_dir, "orders")
        b1 = spark.sql(D1_SQL).withColumn("skills", null_sk)
        # lazy batch-boundary cache (see q_warehouse_incremental)
        return [scd2_merge(None, b1, DIM_JOB_CONFIG, dt.date(1998, 6, 1)).dim.cache()]

    (dim,) = memo(spark, "scd2_update", sf_dir, build)
    load(spark, sf_dir, "orders")
    b2 = spark.sql(D2_SQL).withColumn("skills", null_sk)
    dim = scd2_merge(dim, b2, DIM_JOB_CONFIG, dt.date(1998, 6, 2)).dim
    return dim.select(
        "job_sk", "job_id", "title_clean", "effective_date", "expiry_date", "is_current"
    )


O_SCD2_UPDATE = f"""
WITH b1 AS ({D1_SQL}),
b2 AS ({D2_SQL}),
v1 AS (
    SELECT job_id, title_clean,
           9999 + row_number() OVER (ORDER BY job_id) AS job_sk
    FROM b1
),
max1 AS (SELECT max(job_sk) AS m FROM v1),
updated AS (
    SELECT b2.job_id, b2.title_clean AS new_title
    FROM b2 JOIN v1 USING (job_id)
    WHERE b2.title_clean <> v1.title_clean
),
closed_or_kept AS (
    SELECT v1.job_sk, v1.job_id, v1.title_clean,
           DATE '1998-06-01' AS effective_date,
           CASE WHEN u.job_id IS NOT NULL THEN DATE '1998-06-02' END AS expiry_date,
           (u.job_id IS NULL) AS is_current
    FROM v1 LEFT JOIN updated u ON v1.job_id = u.job_id
),
new_versions AS (
    SELECT (SELECT m FROM max1) + row_number() OVER (ORDER BY job_id) AS job_sk,
           job_id, new_title AS title_clean,
           DATE '1998-06-02' AS effective_date,
           CAST(NULL AS DATE) AS expiry_date,
           TRUE AS is_current
    FROM updated
)
SELECT * FROM closed_or_kept
UNION ALL
SELECT * FROM new_versions
"""

# --------------------------------------------------------------------------
# SC3 fact grain-merge under the gate: two daily runs with overlapping
# fan-out windows. Run-2 rows land on run-1 grains for the overlap days →
# those keep their fact_id AND their run-1 load_month (sticky — the
# reference deliberately omits it from DO UPDATE, fact_handler.py:246-255)
# while taking run-2 measures; new grains get fresh ids.
# --------------------------------------------------------------------------
FACT_STAGING_SQL = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       concat('Co ', CAST(mod(o_custkey, 40) AS STRING)) AS company_name_standardized,
       CAST(mod(o_orderkey, 50) AS DOUBLE) + {bump}     AS salary_min,
       CAST(mod(o_orderkey, 50) + 10 AS DOUBLE) + {bump} AS salary_max,
       'range' AS salary_type,
       CAST(NULL AS TIMESTAMP) AS due_date,
       CAST(NULL AS STRING) AS time_remaining,
       (mod(o_orderkey, 2) = 0) AS verified_employer,
       CAST(NULL AS TIMESTAMP) AS posted_time,
       TIMESTAMP '{crawl}' AS crawled_at
FROM orders
WHERE mod(o_orderkey, {modulus}) = 0
"""


def q_fact_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders")

    def staging(bump: int, crawl: str, modulus: int):
        return spark.sql(
            FACT_STAGING_SQL.format(bump=bump, crawl=crawl, modulus=modulus)
        ).withColumn("skills", F.lit(None).cast("array<string>")).withColumn(
            "title_clean", F.col("job_id")
        ).withColumn("job_url", F.lit(None).cast("string")).withColumn(
            "last_update", F.lit(None).cast("string")
        ).withColumn("logo_url", F.lit(None).cast("string")).withColumn(
            "company_name", F.col("company_name_standardized")
        ).withColumn("company_url", F.lit(None).cast("string"))

    # run 1: every 20th order, May 30; run 2: every 40th order (a subset),
    # June 2 — fan-outs [May 30..Jun 3] and [Jun 2..Jun 6] overlap on
    # Jun 2-3.
    r1 = dt.datetime(1998, 5, 30, 12, 0, 0)
    r2 = dt.datetime(1998, 6, 2, 12, 0, 0)

    def build() -> list[DataFrame]:
        s1 = staging(0, "1998-05-30 09:00:00", 20)
        # lazy batch-boundary caches (see q_warehouse_incremental)
        dim_job = scd2_merge(None, s1, DIM_JOB_CONFIG, r1.date()).dim.cache()
        dim_company = scd2_merge(None, s1, DIM_COMPANY_CONFIG, r1.date()).dim.cache()
        fact = facts_plan.merge_facts(
            None, facts_plan.build_fact_batch(s1, dim_job, dim_company, r1)
        ).cache()
        return [dim_job, dim_company, fact]

    dim_job, dim_company, fact = memo(spark, "fact_merge", sf_dir, build)
    s2 = staging(100, "1998-06-02 09:00:00", 40)
    fact = facts_plan.merge_facts(
        fact, facts_plan.build_fact_batch(s2, dim_job, dim_company, r2)
    )
    return fact.select(
        "fact_id", "job_sk", "date_id", "salary_min", "salary_max", "load_month"
    )


O_FACT_MERGE = f"""
WITH s1 AS ({FACT_STAGING_SQL.format(bump=0, crawl='1998-05-30 09:00:00', modulus=20)}),
s2 AS ({FACT_STAGING_SQL.format(bump=100, crawl='1998-06-02 09:00:00', modulus=40)}),
dim_job AS (
    SELECT job_id, 9999 + row_number() OVER (ORDER BY job_id) AS job_sk FROM s1
),
f1 AS (
    SELECT j.job_sk, s1.salary_min, s1.salary_max, '1998-05' AS load_month,
           CAST(unnest(generate_series(DATE '1998-05-30', DATE '1998-06-03',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM s1 JOIN dim_job j USING (job_id)
),
f1_ids AS (
    SELECT *, 9999 + row_number() OVER (ORDER BY job_sk, date_id) AS fact_id FROM f1
),
max1 AS (SELECT max(fact_id) AS m FROM f1_ids),
f2 AS (
    SELECT j.job_sk, s2.salary_min, s2.salary_max, '1998-06' AS load_month,
           CAST(unnest(generate_series(DATE '1998-06-02', DATE '1998-06-06',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM s2 JOIN dim_job j USING (job_id)
),
updated AS (  -- overlap grains: keep fact_id + OLD load_month, take new measures
    SELECT f1_ids.fact_id, f1_ids.job_sk, f1_ids.date_id,
           f2.salary_min, f2.salary_max, f1_ids.load_month
    FROM f1_ids JOIN f2 USING (job_sk, date_id)
),
kept AS (
    SELECT f1_ids.* FROM f1_ids
    WHERE NOT EXISTS (SELECT 1 FROM f2
                      WHERE f2.job_sk = f1_ids.job_sk AND f2.date_id = f1_ids.date_id)
),
fresh AS (
    SELECT (SELECT m FROM max1) + row_number() OVER (ORDER BY job_sk, date_id) AS fact_id,
           job_sk, date_id, salary_min, salary_max, load_month
    FROM f2
    WHERE NOT EXISTS (SELECT 1 FROM f1_ids
                      WHERE f1_ids.job_sk = f2.job_sk AND f1_ids.date_id = f2.date_id)
)
SELECT fact_id, job_sk, date_id, salary_min, salary_max, load_month FROM kept
UNION ALL
SELECT fact_id, job_sk, date_id, salary_min, salary_max, load_month FROM updated
UNION ALL
SELECT fact_id, job_sk, date_id, salary_min, salary_max, load_month FROM fresh
"""

# --------------------------------------------------------------------------
# SC4 bridge rebuild under the gate: two runs where a subset of jobs is
# re-crawled with a DIFFERENT location. Bridge rows of grains touched by
# run 2 must re-point to the new location; untouched grains (earlier days
# of re-crawled jobs, and all days of everyone else) keep run-1 rows.
# --------------------------------------------------------------------------
BRIDGE_STAGING_SQL = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       CAST(o_orderkey AS STRING) AS title_clean,
       concat('Co ', CAST(mod(o_custkey, 40) AS STRING)) AS company_name_standardized,
       concat('Co ', CAST(mod(o_custkey, 40) AS STRING)) AS company_name,
       concat('{city}: D', CAST(mod(o_orderkey, 3) AS STRING)) AS location,
       CAST(NULL AS STRING) AS job_url, CAST(NULL AS STRING) AS last_update,
       CAST(NULL AS STRING) AS logo_url, CAST(NULL AS STRING) AS company_url,
       CAST(0.0 AS DOUBLE) AS salary_min, CAST(0.0 AS DOUBLE) AS salary_max,
       'negotiable' AS salary_type, FALSE AS verified_employer,
       CAST(NULL AS TIMESTAMP) AS due_date, CAST(NULL AS STRING) AS time_remaining,
       CAST(NULL AS TIMESTAMP) AS posted_time,
       TIMESTAMP '{crawl}' AS crawled_at
FROM orders
WHERE mod(o_orderkey, {modulus}) = 0
"""


def q_bridge_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobinsight_data_pipeline_spark.plans.dimensions import build_dim_location

    load(spark, sf_dir, "orders")

    def staging(city: str, crawl: str, modulus: int):
        return (
            spark.sql(
                BRIDGE_STAGING_SQL.format(city=city, crawl=crawl, modulus=modulus)
            )
            .withColumn("skills", F.lit(None).cast("array<string>"))
            .withColumn("location_pairs", F.array("location"))
        )

    r1 = dt.datetime(1998, 6, 1, 12, 0, 0)
    r2 = dt.datetime(1998, 6, 3, 12, 0, 0)

    def build() -> list[DataFrame]:
        s1 = staging("CityA", "1998-06-01 09:00:00", 20)
        # lazy batch-boundary caches (see q_warehouse_incremental)
        dim_job = scd2_merge(None, s1, DIM_JOB_CONFIG, r1.date()).dim.cache()
        dim_company = scd2_merge(None, s1, DIM_COMPANY_CONFIG, r1.date()).dim.cache()
        dim_loc = build_dim_location(None, s1, r1.date()).dim.cache()
        inc1 = facts_plan.build_fact_batch(s1, dim_job, dim_company, r1)
        fact = facts_plan.merge_facts(None, inc1).cache()
        bridge = facts_plan.build_bridge(fact, inc1, s1, dim_job, dim_loc, None).cache()
        s2 = staging("CityB", "1998-06-03 09:00:00", 40)
        dim_loc2 = build_dim_location(dim_loc, s2, r2.date()).dim.cache()
        return [dim_job, dim_company, fact, bridge, dim_loc2]

    dim_job, dim_company, fact, bridge, dim_loc = memo(
        spark, "bridge_rebuild", sf_dir, build
    )
    s2 = staging("CityB", "1998-06-03 09:00:00", 40)
    inc2 = facts_plan.build_fact_batch(s2, dim_job, dim_company, r2)
    fact = facts_plan.merge_facts(fact, inc2)
    bridge = facts_plan.build_bridge(fact, inc2, s2, dim_job, dim_loc, bridge)

    return (
        fact.join(dim_job.select("job_sk", "job_id"), "job_sk")
        .join(bridge, "fact_id")
        .join(
            dim_loc.select("location_sk", "city", "district"), "location_sk"
        )
        .select("job_id", "date_id", "city", "district")
    )


O_BRIDGE_REBUILD = f"""
WITH s1 AS ({BRIDGE_STAGING_SQL.format(city='CityA', crawl='1998-06-01 09:00:00', modulus=20)}),
s2 AS ({BRIDGE_STAGING_SQL.format(city='CityB', crawl='1998-06-03 09:00:00', modulus=40)}),
grains AS (
    SELECT job_id,
           CAST(unnest(generate_series(DATE '1998-06-01', DATE '1998-06-05',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM s1
    UNION
    SELECT job_id,
           CAST(unnest(generate_series(DATE '1998-06-03', DATE '1998-06-07',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM s2
),
affected AS (  -- grains touched by run 2: its jobs × its fan-out window
    SELECT job_id,
           CAST(unnest(generate_series(DATE '1998-06-03', DATE '1998-06-07',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM s2
)
SELECT g.job_id, g.date_id,
       CASE WHEN a.job_id IS NOT NULL THEN 'CityB' ELSE 'CityA' END AS city,
       concat('D', CAST(mod(CAST(g.job_id AS BIGINT), 3) AS STRING)) AS district
FROM grains g
LEFT JOIN affected a ON g.job_id = a.job_id AND g.date_id = a.date_id
"""

# --------------------------------------------------------------------------
# A3: the reference README's showcase query (README.md:267-278) — top 10
# companies by AVG((COALESCE(salary_min,0)+COALESCE(salary_max,0))/2.0),
# run over the engine-built warehouse.
# --------------------------------------------------------------------------
def q_top10_avg_salary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _staging, _dim_job, dim_company, fact = _flat_warehouse(spark, sf_dir)
    avg_mid = F.avg(
        (F.coalesce("salary_min", F.lit(0.0)) + F.coalesce("salary_max", F.lit(0.0)))
        / 2.0
    )
    return (
        fact.join(
            dim_company.select("company_sk", "company_name_standardized"), "company_sk"
        )
        .groupBy("company_name_standardized")
        .agg(F.round(avg_mid, 2).alias("avg_mid_salary"))
        .orderBy(F.desc("avg_mid_salary"), F.asc("company_name_standardized"))
        .limit(10)
    )


O_TOP10_AVG_SALARY = f"""
WITH staging AS ({STAGING_SQL}),
fact AS (
    SELECT company_name_standardized, salary_min, salary_max,
           CAST(unnest(generate_series(DATE '1998-06-01', DATE '1998-06-05',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM staging
)
SELECT company_name_standardized,
       round(avg((coalesce(salary_min, 0) + coalesce(salary_max, 0)) / 2.0), 2)
           AS avg_mid_salary
FROM fact
GROUP BY company_name_standardized
ORDER BY avg_mid_salary DESC, company_name_standardized ASC
LIMIT 10
"""

# --------------------------------------------------------------------------
# The FULL two-run incremental warehouse under one gate: batch 1 loads
# every even order (May 30 run, CityA locations, every 5th job located
# NULL → Unknown); batch 2 re-crawls every 4th order (Jun 2 run): a
# quarter get a changed title → SCD2 close/reopen with NEW job_sks (so
# their batch-2 facts land on new grains while the old-version facts
# survive untouched), the rest overlap on Jun 2-3 (fact_id + load_month
# sticky, measures updated) and fan out fresh Jun 4-6 rows; every
# affected grain's bridge row re-points to CityB. The output joins fact →
# pointed dim version → bridge → location, so one hash pins SCD2
# close/reopen, key resolution against the post-merge dim, grain merge
# stickiness, fresh-key ordering, and bridge repointing TOGETHER —
# /root/reference/src/etl/etl_main.py:341-597's daily cadence end-to-end.
# --------------------------------------------------------------------------
WH_INC_SQL = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       CASE WHEN {v2} AND mod(o_orderkey, 80) = 0
            THEN concat('T', CAST(mod(o_orderkey, 9) AS STRING), 'v2')
            ELSE concat('T', CAST(mod(o_orderkey, 9) AS STRING)) END AS title_clean,
       concat('Co ', CAST(mod(o_custkey, 40) AS STRING)) AS company_name_standardized,
       concat('Co ', CAST(mod(o_custkey, 40) AS STRING)) AS company_name,
       CASE WHEN {nullloc} THEN CAST(NULL AS STRING)
            ELSE concat('{city}', ': D', CAST(mod(o_orderkey, 3) AS STRING)) END AS location,
       CAST(NULL AS STRING) AS job_url, CAST(NULL AS STRING) AS last_update,
       CAST(NULL AS STRING) AS logo_url, CAST(NULL AS STRING) AS company_url,
       CAST(mod(o_orderkey, 50) AS DOUBLE) + {bump} AS salary_min,
       CAST(mod(o_orderkey, 50) + 10 AS DOUBLE) + {bump} AS salary_max,
       'range' AS salary_type,
       (mod(mod(o_custkey, 40), 2) = 0) AS verified_employer,
       CAST(NULL AS TIMESTAMP) AS due_date, CAST(NULL AS STRING) AS time_remaining,
       CAST(NULL AS TIMESTAMP) AS posted_time,
       TIMESTAMP '{crawl}' AS crawled_at
FROM orders WHERE mod(o_orderkey, {modulus}) = 0
"""

_WH_INC_B1 = WH_INC_SQL.format(
    v2="FALSE", nullloc="mod(o_orderkey, 100) = 0", city="CityA",
    bump=0, crawl="1998-05-30 09:00:00", modulus=20,
)
_WH_INC_B2 = WH_INC_SQL.format(
    v2="TRUE", nullloc="FALSE", city="CityB",
    bump=100, crawl="1998-06-02 09:00:00", modulus=40,
)


def q_warehouse_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobinsight_data_pipeline_spark.plans.dimensions import build_dim_location

    load(spark, sf_dir, "orders")

    def staging(sql: str):
        return (
            spark.sql(sql)
            .withColumn("skills", F.lit(None).cast("array<string>"))
            .withColumn(
                "location_pairs",
                F.when(
                    F.col("location").isNotNull(), F.array("location")
                ).otherwise(F.array().cast("array<string>")),
            )
        )

    r1 = dt.datetime(1998, 5, 30, 12, 0, 0)
    r2 = dt.datetime(1998, 6, 2, 12, 0, 0)

    def build() -> list[DataFrame]:
        # cache at batch boundaries — the run-to-run materialization
        # points the lake pipeline gets from its table writes
        # (plans/pipeline.py); without them every max_key/unknown-location
        # collect in batch 2 re-executes batch 1's whole DAG. (Eager
        # localCheckpoint was measured 2.3× SLOWER here — 33s vs 14s at
        # sf0.01 — each checkpoint pays full per-job overhead on these
        # small-batch, UDF-bearing subtrees, while lazy caches piggyback
        # on actions the gate runs anyway.)
        s1, s2 = staging(_WH_INC_B1), staging(_WH_INC_B2)
        dim_job = scd2_merge(None, s1, DIM_JOB_CONFIG, r1.date()).dim.cache()
        dim_co = scd2_merge(None, s1, DIM_COMPANY_CONFIG, r1.date()).dim.cache()
        dim_loc = build_dim_location(None, s1, r1.date()).dim.cache()
        inc1 = facts_plan.build_fact_batch(s1, dim_job, dim_co, r1)
        fact = facts_plan.merge_facts(None, inc1).cache()
        bridge = facts_plan.build_bridge(fact, inc1, s1, dim_job, dim_loc, None).cache()
        dim_job2 = scd2_merge(dim_job, s2, DIM_JOB_CONFIG, r2.date()).dim.cache()
        dim_loc2 = build_dim_location(dim_loc, s2, r2.date()).dim.cache()
        return [dim_job, dim_co, fact, bridge, dim_job2, dim_loc2]

    _j1, dim_co1, fact, bridge, dim_job, dim_loc = memo(
        spark, "warehouse_incremental", sf_dir, build
    )
    s2 = staging(_WH_INC_B2)
    dim_co = scd2_merge(dim_co1, s2, DIM_COMPANY_CONFIG, r2.date()).dim
    inc2 = facts_plan.build_fact_batch(s2, dim_job, dim_co, r2)
    fact = facts_plan.merge_facts(fact, inc2)
    bridge = facts_plan.build_bridge(fact, inc2, s2, dim_job, dim_loc, bridge)

    return (
        fact.join(
            dim_job.select("job_sk", "job_id", "title_clean", "is_current"),
            "job_sk",
        )
        .join(bridge, "fact_id")
        .join(dim_loc.select("location_sk", "city", "district"), "location_sk")
        .select(
            "job_id",
            "date_id",
            "job_sk",
            "fact_id",
            "title_clean",
            F.col("is_current").alias("points_current"),
            "salary_min",
            "salary_max",
            "load_month",
            "city",
            "district",
        )
    )


O_WAREHOUSE_INCREMENTAL = f"""
WITH s1 AS ({_WH_INC_B1}),
s2 AS ({_WH_INC_B2}),
v1 AS (
    SELECT job_id, title_clean,
           9999 + row_number() OVER (ORDER BY job_id) AS job_sk
    FROM s1
),
max1 AS (SELECT max(job_sk) AS m FROM v1),
updated AS (
    SELECT s2.job_id, s2.title_clean AS new_title
    FROM s2 JOIN v1 USING (job_id)
    WHERE s2.title_clean <> v1.title_clean
),
dim_job AS (
    SELECT v1.job_sk, v1.job_id, v1.title_clean,
           (u.job_id IS NULL) AS is_current
    FROM v1 LEFT JOIN updated u ON v1.job_id = u.job_id
    UNION ALL
    SELECT (SELECT m FROM max1) + row_number() OVER (ORDER BY job_id),
           job_id, new_title, TRUE
    FROM updated
),
f1 AS (
    SELECT v1.job_sk, s1.job_id, s1.salary_min, s1.salary_max,
           '1998-05' AS load_month,
           CAST(unnest(generate_series(DATE '1998-05-30', DATE '1998-06-03',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM s1 JOIN v1 USING (job_id)
),
f1_ids AS (
    SELECT *, 9999 + row_number() OVER (ORDER BY job_sk, date_id) AS fact_id
    FROM f1
),
maxf1 AS (SELECT max(fact_id) AS m FROM f1_ids),
cur2 AS (SELECT job_sk, job_id FROM dim_job WHERE is_current),
f2 AS (
    SELECT c.job_sk, s2.job_id, s2.salary_min, s2.salary_max,
           '1998-06' AS load_month,
           CAST(unnest(generate_series(DATE '1998-06-02', DATE '1998-06-06',
                                       INTERVAL 1 DAY)) AS DATE) AS date_id
    FROM s2 JOIN cur2 c USING (job_id)
),
upd_grains AS (  -- overlap: keep fact_id + OLD load_month, take new measures
    SELECT f1_ids.fact_id, f1_ids.job_sk, f1_ids.job_id, f1_ids.date_id,
           f2.salary_min, f2.salary_max, f1_ids.load_month
    FROM f1_ids JOIN f2 USING (job_sk, date_id)
),
kept AS (
    SELECT f1_ids.* FROM f1_ids
    WHERE NOT EXISTS (SELECT 1 FROM f2
                      WHERE f2.job_sk = f1_ids.job_sk
                        AND f2.date_id = f1_ids.date_id)
),
fresh AS (
    SELECT (SELECT m FROM maxf1)
               + row_number() OVER (ORDER BY job_sk, date_id) AS fact_id,
           job_sk, job_id, date_id, salary_min, salary_max, load_month
    FROM f2
    WHERE NOT EXISTS (SELECT 1 FROM f1_ids
                      WHERE f1_ids.job_sk = f2.job_sk
                        AND f1_ids.date_id = f2.date_id)
),
fact AS (
    SELECT fact_id, job_sk, job_id, date_id, salary_min, salary_max, load_month
    FROM kept
    UNION ALL SELECT fact_id, job_sk, job_id, date_id, salary_min, salary_max,
                     load_month FROM upd_grains
    UNION ALL SELECT fact_id, job_sk, job_id, date_id, salary_min, salary_max,
                     load_month FROM fresh
),
affected AS (SELECT DISTINCT job_sk, date_id FROM f2)
SELECT f.job_id, f.date_id, f.job_sk, f.fact_id, d.title_clean,
       d.is_current AS points_current, f.salary_min, f.salary_max,
       f.load_month,
       CASE WHEN a.job_sk IS NOT NULL THEN 'CityB'
            WHEN mod(CAST(f.job_id AS BIGINT), 100) = 0 THEN 'Unknown'
            ELSE 'CityA' END AS city,
       CASE WHEN a.job_sk IS NOT NULL
                 THEN concat('D', CAST(mod(CAST(f.job_id AS BIGINT), 3) AS STRING))
            WHEN mod(CAST(f.job_id AS BIGINT), 100) = 0 THEN CAST(NULL AS STRING)
            ELSE concat('D', CAST(mod(CAST(f.job_id AS BIGINT), 3) AS STRING))
       END AS district
FROM fact f
JOIN dim_job d USING (job_sk)
LEFT JOIN affected a ON f.job_sk = a.job_sk AND f.date_id = a.date_id
"""

# --------------------------------------------------------------------------
# S10/S11/S13 under the hash gate: partitioned export → damage a month in
# the live table → restore it from the export → apply retention to the
# export → summarize both sides. The oracle recomputes the expected
# post-repair/post-retention state from the construction alone, so a
# partition written/restored/pruned wrongly fails the value hash.
# --------------------------------------------------------------------------
EXPORT_SRC_SQL = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       CASE mod(o_orderkey, 3) WHEN 0 THEN '1998-05'
                               WHEN 1 THEN '1998-06'
                               ELSE '1998-07' END AS load_month,
       CAST(mod(o_orderkey, 97) AS DOUBLE) AS val
FROM orders WHERE mod(o_orderkey, 10) = 0
"""


def q_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 partitioned export + S11 partition restore + S13 retention,
    end-to-end: June's values are corrupted in the live table and
    repaired from the export (a wrong restore leaves -1 values → sum_val
    flips sign → hash fails); retention at keep_months=5 as of Dec 1
    prunes exactly the 1998-05 partition directory from the export
    (n_exported goes to 0 for May, stays whole elsewhere)."""
    from jobinsight_data_pipeline_spark.sources.export import (
        export_partitioned,
        restore_partition,
        retention_partitions,
    )

    load(spark, sf_dir, "orders")
    src = spark.sql(EXPORT_SRC_SQL)
    out = scratch_dir("export-gate-") + "/fact"
    export_partitioned(src, out)

    damaged = src.withColumn(
        "val",
        F.when(F.col("load_month") == "1998-06", F.lit(-1.0)).otherwise(
            F.col("val")
        ),
    )
    repaired = restore_partition(spark, out, damaged, "1998-06")
    retention_partitions(out, keep_months=5, as_of=dt.date(1998, 12, 1))

    exported = (
        spark.read.parquet(out)
        .groupBy("load_month")
        .agg(F.count(F.lit(1)).alias("n_exported"))
    )
    return (
        repaired.groupBy("load_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("val"), 2).alias("sum_val"),
        )
        .join(exported, "load_month", "left")
        .withColumn("n_exported", F.coalesce("n_exported", F.lit(0)))
    )


O_EXPORT_ROUNDTRIP = f"""
WITH src AS ({EXPORT_SRC_SQL})
SELECT load_month,
       count(*) AS n_rows,
       round(sum(val), 2) AS sum_val,
       CASE WHEN load_month >= '1998-06' THEN count(*) ELSE 0 END AS n_exported
FROM src GROUP BY load_month
"""


# --------------------------------------------------------------------------
# S1 under the hash gate: the distributed HTML job-card ingest
# (binaryFile scan → mapInPandas regex extractor → raw_jobs rows) over a
# two-card fixture page covering both selector generations — the modern
# card (data-job-id, title tooltip, address tooltip holding literal HTML,
# label.title-salary, skills '+' tooltip, label.time strong deadline,
# vip-badge, span.time) and the legacy card (id-from-href, h3 text,
# div.info span, div.salary, span.tag-item, div.deadline,
# div.label-content). The oracle is the literal expected row set;
# per-branch micro-fixtures live in tests/test_html_fidelity.py.
# --------------------------------------------------------------------------
_HTML_FIXTURE = """
<div class="job-item-2" data-original-title="x<br>y" data-job-id="101">
  <h3 class="title"><a href="/viec-lam/ky-su-101.html">
    <span data-original-title="Kỹ sư dữ liệu">K…</span></a></h3>
  <a class="company" href="/cty/alpha">Công ty Alpha</a>
  <label class="address" data-original-title="Hà Nội: Cầu Giấy<br>HCM: Quận 1">
    Hà Nội và 1 nơi khác</label>
  <label class="title-salary">15 - 20 triệu</label>
  <div class="skills"><label class="item">Java</label>
    <label class="item" data-original-title="SQL, Docker">+2 +</label></div>
  <label class="time"><strong>12</strong> ngày để ứng tuyển</label>
  <span class="vip-badge"></span>
  <span class="time">3 ngày trước</span>
  <a href="/x"><img src="https://cdn/logo-a.png"/></a>
</div>
<div class="job-item-2">
  <a href="/viec-lam/nhan-vien-202.html?src=1"></a>
  <h3 class="title">Nhân viên kinh doanh</h3>
  <div class="info"><span>Đà Nẵng</span></div>
  <div class="salary">Thoả thuận</div>
  <span class="tag-item">PHP</span><span class="tag-item">Laravel</span>
  <div class="deadline">Còn 5 ngày</div>
  <div class="label-content">Cập nhật 1 tuần trước</div>
  <img class="img-responsive" src="/logo-b.png">
</div>
"""


def q_html_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobinsight_data_pipeline_spark.sources.html import read_html_jobs

    d = scratch_dir("html-gate-")
    with open(f"{d}/it_p1.html", "w", encoding="utf-8") as fh:
        fh.write(_HTML_FIXTURE)
    raw = read_html_jobs(spark, d, RUN_TS)
    return raw.select(
        "job_id",
        "title",
        "job_url",
        "company_name",
        "salary",
        "location",
        "location_detail",
        F.concat_ws("|", "skills").alias("skills_csv"),
        "deadline",
        "verified_employer",
        "last_update",
        "logo_url",
        # TZ-invariant check of the F12 derivation: crawled−posted in
        # epoch seconds. Both columns are LTZ built from naive F.lit — any
        # rendered wall-clock depends on the Python-process vs Spark-session
        # TZ pairing on the *driver host* (r3 html_ingest hash fail), but
        # the epoch offsets cancel in the difference, so the parsed
        # relative age (3 days / 1 week) survives any TZ configuration.
        (F.unix_timestamp("crawled_at") - F.unix_timestamp("posted_time"))
        .cast("bigint")
        .alias("posted_age_sec"),
    )


O_HTML_INGEST = """
SELECT * FROM (VALUES
  ('101', 'Kỹ sư dữ liệu', 'https://www.topcv.vn/viec-lam/ky-su-101.html',
   'Công ty Alpha', '15 - 20 triệu', 'Hà Nội và 1 nơi khác',
   'Hà Nội: Cầu Giấy HCM: Quận 1', 'Java|SQL|Docker', '12', TRUE,
   '3 ngày trước', 'https://cdn/logo-a.png',
   CAST(259200 AS BIGINT)),
  ('202', 'Nhân viên kinh doanh',
   'https://www.topcv.vn/viec-lam/nhan-vien-202.html?src=1',
   CAST(NULL AS VARCHAR), 'Thoả thuận', 'Đà Nẵng', 'Đà Nẵng',
   'PHP|Laravel', '5', FALSE, 'Cập nhật 1 tuần trước', '/logo-b.png',
   CAST(604800 AS BIGINT))
) AS t(job_id, title, job_url, company_name, salary, location,
       location_detail, skills_csv, deadline, verified_employer,
       last_update, logo_url, posted_age_sec)
"""


# --------------------------------------------------------------------------
# §2.12 (V1–V8) under the hash gate: the validation suite's DETECTORS run
# over a literal fixture warehouse seeded with one known instance of each
# defect class (dup current keys, SCD2 overlap, calendar gap, orphans at
# every edge, dup grain, salary inversion, future timestamp, unbridged
# fact, NULL criticals). Spark runs the real plans/validation.py
# operators; the oracle recomputes every count with independent SQL over
# the same VALUES — so a detector that under- or over-counts fails the
# hash. Expected counts are in comments; the oracle COMPUTES them.
# --------------------------------------------------------------------------
_V_DIM_JOB = """VALUES
  (1, 'J1', 'a',  DATE '2025-01-01', CAST(NULL AS DATE), TRUE),
  (2, 'J1', 'b',  DATE '2025-02-01', CAST(NULL AS DATE), TRUE),
  (3, 'J2', 'c',  DATE '2025-01-01', DATE '2025-03-01',  FALSE),
  (4, 'J2', 'd',  DATE '2025-02-01', CAST(NULL AS DATE), TRUE),
  (5, 'J3', CAST(NULL AS STRING), DATE '2025-01-01', CAST(NULL AS DATE), TRUE)
"""  # dup current J1 (1); overlaps: J1 row1 + J2 row1 (2); null title (1)
_V_DIM_CO = """VALUES
  (10, 'CoA', DATE '2025-01-01', CAST(NULL AS DATE), TRUE),
  (11, 'CoB', DATE '2025-01-01', DATE '2025-02-01',  FALSE),
  (12, 'CoB', DATE '2025-02-01', CAST(NULL AS DATE), TRUE)
"""  # clean: dup 0, overlap 0 (expiry == next effective is allowed)
_V_DIM_LOC = """VALUES
  (100, CAST(NULL AS STRING), 'Hanoi', CAST(NULL AS STRING),
   DATE '2025-01-01', CAST(NULL AS DATE), TRUE)
"""
_V_DIM_DATE = """VALUES
  (DATE '2025-01-01'), (DATE '2025-01-02'),
  (DATE '2025-01-04'), (DATE '2025-01-05')
"""  # gap: 2025-01-03 missing (1)
_V_FACT = """VALUES
  (1000, 1,  10, DATE '2025-01-01', 1.0, 2.0, TIMESTAMP '2025-01-01 00:00:00'),
  (1001, 3,  10, DATE '2025-01-01', 1.0, 2.0, TIMESTAMP '2025-01-01 00:00:00'),
  (1002, 99, 10, DATE '2025-01-01', 1.0, 2.0, TIMESTAMP '2025-01-01 00:00:00'),
  (1003, 1,  98, DATE '2025-01-02', 1.0, 2.0, TIMESTAMP '2025-01-01 00:00:00'),
  (1004, 1,  11, DATE '2025-01-03', 1.0, 2.0, TIMESTAMP '2025-01-01 00:00:00'),
  (1005, 4,  10, DATE '2025-01-02', 5.0, 3.0, TIMESTAMP '2025-01-01 00:00:00'),
  (1006, 4,  10, DATE '2025-01-02', 1.0, 2.0, TIMESTAMP '2025-01-01 00:00:00'),
  (1007, 2,  10, DATE '2025-01-04', 1.0, 2.0, TIMESTAMP '2026-01-01 00:00:00')
"""  # job orphans: current 2 (sk 3 closed, 99 missing), any 1 (99);
#     company orphans: current 2 (98 missing, 11 closed), any 1 (98);
#     dup grain (4, 01-02) ×2 → 1; inversion 1005 → 1; future 1007 → 1
_V_BRIDGE = """VALUES
  (1000, 100), (1001, 100), (1002, 100), (1003, 100),
  (1004, 100), (1005, 100), (1006, 100), (9999, 100), (1000, 555)
"""  # bridge→fact orphan 9999 (1); bridge→location orphan 555 (1);
#     fact 1007 unbridged (1)

_V_AS_OF = dt.datetime(2025, 6, 1, 0, 0, 0)


def q_warehouse_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobinsight_data_pipeline_spark.plans import validation as V

    dim_job = spark.sql(
        f"SELECT * FROM ({_V_DIM_JOB}) AS t(job_sk, job_id, title_clean,"
        " effective_date, expiry_date, is_current)"
    )
    dim_co = spark.sql(
        f"SELECT * FROM ({_V_DIM_CO}) AS t(company_sk,"
        " company_name_standardized, effective_date, expiry_date, is_current)"
    )
    dim_loc = spark.sql(
        f"SELECT * FROM ({_V_DIM_LOC}) AS t(location_sk, province, city,"
        " district, effective_date, expiry_date, is_current)"
    )
    dim_date = spark.sql(f"SELECT * FROM ({_V_DIM_DATE}) AS t(date_id)")
    fact = spark.sql(
        f"SELECT * FROM ({_V_FACT}) AS t(fact_id, job_sk, company_sk,"
        " date_id, salary_min, salary_max, posted_time)"
    )
    bridge = spark.sql(
        f"SELECT * FROM ({_V_BRIDGE}) AS t(fact_id, location_sk)"
    )

    counts = [
        ("dup_current_job_keys", V.duplicate_current_keys(dim_job, ["job_id"])),
        ("dup_current_company_keys",
         V.duplicate_current_keys(dim_co, ["company_name_standardized"])),
        ("dup_current_location_keys",
         V.duplicate_current_keys(dim_loc, ["province", "city", "district"])),
        ("calendar_gaps", V.calendar_gaps(dim_date)),
        ("orphan_fact_job_current",
         V.orphaned_facts(fact, dim_job, "job_sk", "job_sk")),
        ("orphan_fact_job_any",
         V.orphaned_facts(fact, dim_job, "job_sk", "job_sk", current_only=False)),
        ("orphan_fact_company_current",
         V.orphaned_facts(fact, dim_co, "company_sk", "company_sk")),
        ("orphan_fact_company_any",
         V.orphaned_facts(fact, dim_co, "company_sk", "company_sk", current_only=False)),
        ("orphan_bridge_location",
         V.orphaned_facts(bridge, dim_loc, "location_sk", "location_sk", current_only=False)),
        ("orphan_bridge_fact",
         V.orphaned_facts(bridge, fact.select("fact_id"), "fact_id", "fact_id", False)),
        ("dup_fact_grain", V.duplicate_fact_grain(fact)),
        ("salary_inversions", V.salary_inversions(fact)),
        ("future_posted_time", V.future_posted(fact, _V_AS_OF)),
        ("facts_without_bridge", V.facts_without_bridge(fact, bridge)),
        ("scd2_overlap_job", V.scd2_overlaps(dim_job, ["job_id"])),
        ("scd2_overlap_company",
         V.scd2_overlaps(dim_co, ["company_name_standardized"])),
        ("null_title_clean",
         V.null_criticals(dim_job.filter(F.col("is_current")), ["title_clean"])["title_clean"]),
        ("null_city",
         V.null_criticals(dim_loc.filter(F.col("is_current")), ["city"])["city"]),
    ]
    return spark.createDataFrame(
        [(n, int(c)) for n, c in counts], "check string, failed_count bigint"
    )


O_WAREHOUSE_VALIDATION = f"""
WITH dim_job AS (SELECT * FROM ({_V_DIM_JOB}) AS t(job_sk, job_id,
         title_clean, effective_date, expiry_date, is_current)),
dim_co AS (SELECT * FROM ({_V_DIM_CO}) AS t(company_sk,
         company_name_standardized, effective_date, expiry_date, is_current)),
dim_loc AS (SELECT * FROM ({_V_DIM_LOC}) AS t(location_sk, province, city,
         district, effective_date, expiry_date, is_current)),
dim_date AS (SELECT * FROM ({_V_DIM_DATE}) AS t(date_id)),
fact AS (SELECT * FROM ({_V_FACT}) AS t(fact_id, job_sk, company_sk,
         date_id, salary_min, salary_max, posted_time)),
bridge AS (SELECT * FROM ({_V_BRIDGE}) AS t(fact_id, location_sk))
SELECT 'dup_current_job_keys' AS check, (
    SELECT count(*) FROM (SELECT job_id FROM dim_job WHERE is_current
                          GROUP BY job_id HAVING count(*) > 1)) AS failed_count
UNION ALL SELECT 'dup_current_company_keys', (
    SELECT count(*) FROM (SELECT company_name_standardized FROM dim_co
                          WHERE is_current GROUP BY 1 HAVING count(*) > 1))
UNION ALL SELECT 'dup_current_location_keys', (
    SELECT count(*) FROM (SELECT province, city, district FROM dim_loc
                          WHERE is_current GROUP BY 1, 2, 3 HAVING count(*) > 1))
UNION ALL SELECT 'calendar_gaps', (
    SELECT date_diff('day', min(date_id), max(date_id)) + 1 - count(*)
    FROM dim_date)
UNION ALL SELECT 'orphan_fact_job_current', (
    SELECT count(*) FROM fact f WHERE NOT EXISTS (
        SELECT 1 FROM dim_job d WHERE d.is_current AND d.job_sk = f.job_sk))
UNION ALL SELECT 'orphan_fact_job_any', (
    SELECT count(*) FROM fact f WHERE NOT EXISTS (
        SELECT 1 FROM dim_job d WHERE d.job_sk = f.job_sk))
UNION ALL SELECT 'orphan_fact_company_current', (
    SELECT count(*) FROM fact f WHERE NOT EXISTS (
        SELECT 1 FROM dim_co d WHERE d.is_current
        AND d.company_sk = f.company_sk))
UNION ALL SELECT 'orphan_fact_company_any', (
    SELECT count(*) FROM fact f WHERE NOT EXISTS (
        SELECT 1 FROM dim_co d WHERE d.company_sk = f.company_sk))
UNION ALL SELECT 'orphan_bridge_location', (
    SELECT count(*) FROM bridge b WHERE NOT EXISTS (
        SELECT 1 FROM dim_loc d WHERE d.location_sk = b.location_sk))
UNION ALL SELECT 'orphan_bridge_fact', (
    SELECT count(*) FROM bridge b WHERE NOT EXISTS (
        SELECT 1 FROM fact f WHERE f.fact_id = b.fact_id))
UNION ALL SELECT 'dup_fact_grain', (
    SELECT count(*) FROM (SELECT job_sk, date_id FROM fact
                          GROUP BY 1, 2 HAVING count(*) > 1))
UNION ALL SELECT 'salary_inversions', (
    SELECT count(*) FROM fact WHERE salary_min > salary_max)
UNION ALL SELECT 'future_posted_time', (
    SELECT count(*) FROM fact
    WHERE posted_time > TIMESTAMP '2025-06-01 00:00:00')
UNION ALL SELECT 'facts_without_bridge', (
    SELECT count(*) FROM fact f WHERE NOT EXISTS (
        SELECT 1 FROM bridge b WHERE b.fact_id = f.fact_id))
UNION ALL SELECT 'scd2_overlap_job', (
    SELECT count(*) FROM (
        SELECT expiry_date, lead(effective_date) OVER (
            PARTITION BY job_id ORDER BY effective_date) AS ne
        FROM dim_job) WHERE ne IS NOT NULL
        AND (expiry_date IS NULL OR expiry_date > ne))
UNION ALL SELECT 'scd2_overlap_company', (
    SELECT count(*) FROM (
        SELECT expiry_date, lead(effective_date) OVER (
            PARTITION BY company_name_standardized
            ORDER BY effective_date) AS ne
        FROM dim_co) WHERE ne IS NOT NULL
        AND (expiry_date IS NULL OR expiry_date > ne))
UNION ALL SELECT 'null_title_clean', (
    SELECT count(*) FROM dim_job WHERE is_current AND title_clean IS NULL)
UNION ALL SELECT 'null_city', (
    SELECT count(*) FROM dim_loc WHERE is_current AND city IS NULL)
"""


# --------------------------------------------------------------------------
# S12 under the hash gate: the versioned-dir lake's backup/restore — write
# v0, overwrite with a corrupted v1, roll the pointer back, verify the
# read surface equals v0 (the reference restores its DuckDB file backup
# on ETL failure — src/etl/etl_main.py:62-201; the atomic pointer flip is
# the parquet-lake equivalent of that file swap).
# --------------------------------------------------------------------------
def q_lake_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

    load(spark, sf_dir, "orders")
    lake = ParquetLake(scratch_dir("lake-gate-"))
    good = spark.sql(EXPORT_SRC_SQL)
    lake.write(good, "fact")
    lake.write(good.withColumn("val", F.lit(-1.0)), "fact")  # bad deploy
    lake.restore("fact")  # roll back to v0
    restored = lake.read(spark, "fact")
    return restored.groupBy("load_month").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("val"), 2).alias("sum_val"),
    )


O_LAKE_RESTORE = f"""
WITH src AS ({EXPORT_SRC_SQL})
SELECT load_month, count(*) AS n_rows, round(sum(val), 2) AS sum_val
FROM src GROUP BY load_month
"""


def q_forget_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure propagation (sources/lake.forget_keys): customer
    and orders land in a versioned lake, every custkey ending in 7 is
    forgotten across BOTH tables (broadcast anti-join rewrite + pointer
    flip + history purge), and the gate emits the deletion manifest
    joined with survivor-key checksums RE-READ FROM THE LAKE plus the
    history_purged pin — counts, content, and the absence of time
    travel across the erasure boundary all under one hash."""
    from jobinsight_data_pipeline_spark.sources.lake import (
        ParquetLake,
        forget_keys,
    )

    t = load(spark, sf_dir, "customer", "orders")
    lake = ParquetLake(scratch_dir("forget-gate-"))
    lake.write(t["customer"], "customer")
    lake.write(t["orders"], "orders")
    keys = t["customer"].filter("c_custkey % 10 = 7").select("c_custkey")
    manifest = forget_keys(
        spark,
        lake,
        {"customer": "c_custkey", "orders": "o_custkey"},
        keys,
    )

    def _chk(table: str, key_col: str) -> DataFrame:
        h = F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        return (
            lake.read(spark, table)
            .agg(F.bit_xor(h).alias("survivor_checksum"))
            .select(
                F.lit(table).alias("table_name"),
                "survivor_checksum",
                F.lit(len(lake.versions(table)) == 1).alias(
                    "history_purged"
                ),
            )
        )

    chks = _chk("customer", "c_custkey").unionByName(
        _chk("orders", "o_custkey")
    )
    return manifest.join(chks, "table_name")


O_FORGET_ROWS = """
WITH k AS (SELECT c_custkey AS kk FROM customer WHERE c_custkey % 10 = 7)
SELECT 'customer' AS table_name,
       (SELECT count(*) FROM customer) AS rows_before,
       (SELECT count(*) FROM customer
        WHERE c_custkey IN (SELECT kk FROM k)) AS rows_deleted,
       (SELECT count(*) FROM customer
        WHERE c_custkey NOT IN (SELECT kk FROM k)) AS rows_after,
       (SELECT bit_xor(CAST(('0x' || substring(md5(
                 CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT))
        FROM customer WHERE c_custkey NOT IN (SELECT kk FROM k))
           AS survivor_checksum,
       TRUE AS history_purged
UNION ALL
SELECT 'orders',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders
        WHERE o_custkey IN (SELECT kk FROM k)),
       (SELECT count(*) FROM orders
        WHERE o_custkey NOT IN (SELECT kk FROM k)),
       (SELECT bit_xor(CAST(('0x' || substring(md5(
                 CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT))
        FROM orders WHERE o_custkey NOT IN (SELECT kk FROM k)),
       TRUE
"""


# --------------------------------------------------------------------------
# S8/S9 under the hash gate: two upsert batches journaled through the CDC
# sink (insert/update classified set-wise against the pre-merge table),
# replayed schema-on-read, summarized per action. The oracle derives the
# expected journal from the batch definitions: batch1 (mod 40) is a
# subset of batch2 (mod 20), so batch2 splits into |b1| updates and
# |b2|-|b1| fresh inserts.
# --------------------------------------------------------------------------
CDC_BATCH_SQL = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       concat('T', CAST(mod(o_orderkey, 9) AS STRING)) AS title,
       CAST(mod(o_custkey, 40) AS INT) AS company_code
FROM orders WHERE mod(o_orderkey, {modulus}) = 0
"""


def q_cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobinsight_data_pipeline_spark.sources.cdc import read_cdc, write_cdc

    load(spark, sf_dir, "orders")
    b1 = spark.sql(CDC_BATCH_SQL.format(modulus=40))
    b2 = spark.sql(CDC_BATCH_SQL.format(modulus=20))
    root = scratch_dir("cdc-gate-")
    write_cdc(b1, None, root, dt.datetime(1998, 6, 1, 9, 0, 0))
    write_cdc(b2, b1, root, dt.datetime(1998, 6, 2, 9, 0, 0))
    return (
        read_cdc(spark, root)
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("job_id").alias("n_jobs"),
            F.sum("data.company_code").alias("sum_code"),
            F.min("timestamp").alias("first_ts"),
        )
    )


O_CDC_ROUNDTRIP = f"""
WITH b1 AS ({CDC_BATCH_SQL.format(modulus=40)}),
b2 AS ({CDC_BATCH_SQL.format(modulus=20)})
SELECT 'insert' AS action,
       (SELECT count(*) FROM b2) AS n_records,
       (SELECT count(*) FROM b2) AS n_jobs,
       (SELECT CAST(sum(company_code) AS BIGINT) FROM b2) AS sum_code,
       '1998-06-01T09:00:00' AS first_ts
UNION ALL
SELECT 'update',
       (SELECT count(*) FROM b1),
       (SELECT count(*) FROM b1),
       (SELECT CAST(sum(company_code) AS BIGINT) FROM b1),
       '1998-06-02T09:00:00'
"""


# --------------------------------------------------------------------------
# Streaming foreachBatch end-to-end: readStream over crawler parquet drops
# → checkpointed availableNow drain → foreachBatch running the REAL
# raw→staging→dwh plans (plans/pipeline.py) against a temp lake → the
# final warehouse state summarized at job grain under the hash gate.
# --------------------------------------------------------------------------
RAW_STREAM_SQL = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       concat('T', CAST(mod(o_orderkey, 9) AS STRING)) AS title,
       CAST(NULL AS STRING) AS job_url,
       concat('Co ', CAST(mod(o_custkey, 40) AS STRING)) AS company_name,
       CAST(NULL AS STRING) AS company_url,
       CAST(NULL AS STRING) AS salary,
       CAST(NULL AS ARRAY<STRING>) AS skills,
       CAST(NULL AS STRING) AS location,
       CAST(NULL AS STRING) AS location_detail,
       CAST(NULL AS STRING) AS deadline,
       FALSE AS verified_employer,
       CAST(NULL AS STRING) AS last_update,
       CAST(NULL AS STRING) AS logo_url,
       CAST(NULL AS TIMESTAMP) AS posted_time,
       TIMESTAMP '1998-05-30 09:00:00' AS crawled_at
FROM orders WHERE mod(o_orderkey, 200) = {rem}
"""


def q_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 foreachBatch end-to-end under the hash gate: two disjoint
    crawler drops (constructed from orders, ~150 jobs total) land in a
    watched directory; ``stream_raw_ingest`` drains them with an
    availableNow trigger through the SAME ingest → staging-derive →
    dim/fact/bridge merge plans batch mode runs, into a fresh temp lake.
    The gate returns the resulting warehouse at job grain. The oracle
    re-derives that state from the drop definition: free-text fields are
    NULL on purpose, so the staging derivations land on their documented
    defaults (salary_type 'negotiable', Unknown location) and the only
    moving parts under test are the streaming plumbing — schema-enforced
    readStream, checkpointing, the foreachBatch handoff — and the merge
    plans it drives. Multi-batch incremental sequencing is gated
    separately by ``warehouse_incremental``; both drops here drain in one
    deterministic micro-batch (16 files per batch ≥ file count)."""
    from jobinsight_data_pipeline_spark.schemas import RAW_JOBS
    from jobinsight_data_pipeline_spark.sources.lake import ParquetLake
    from jobinsight_data_pipeline_spark.streaming.incremental import (
        stream_raw_ingest,
    )

    load(spark, sf_dir, "orders")
    base = scratch_dir("stream-gate-")
    raw_dir = f"{base}/drops"
    cols = [f.name for f in RAW_JOBS.fields]
    for rem in (0, 100):
        spark.sql(RAW_STREAM_SQL.format(rem=rem)).select(cols).coalesce(
            1
        ).write.mode("append").parquet(raw_dir)

    lake = ParquetLake(f"{base}/lake")
    query = stream_raw_ingest(
        spark, raw_dir, lake, f"{base}/ckpt", RUN_TS, dwh_stats=False
    )
    query.awaitTermination()

    fact = lake.read(spark, "fact_job_posting_daily")
    dim_job = lake.read(spark, "dim_job")
    dim_co = lake.read(spark, "dim_company")
    return (
        fact.join(
            dim_job.select("job_sk", "job_id", "title_clean", "is_current"),
            "job_sk",
        )
        .join(dim_co.select("company_sk", "company_name_standardized"), "company_sk")
        .groupBy("job_id", "title_clean", "company_name_standardized", "load_month")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.min("date_id").alias("first_day"),
            F.max("date_id").alias("last_day"),
            F.max("salary_type").alias("salary_type"),
            F.max(F.col("is_current").cast("int")).cast("boolean").alias(
                "is_current"
            ),
        )
    )


O_STREAM_PIPELINE = """
SELECT CAST(o_orderkey AS STRING) AS job_id,
       concat('T', CAST(mod(o_orderkey, 9) AS STRING)) AS title_clean,
       concat('Co ', CAST(mod(o_custkey, 40) AS STRING))
           AS company_name_standardized,
       '1998-06' AS load_month,
       CAST(5 AS BIGINT) AS n_days,
       DATE '1998-06-01' AS first_day,
       DATE '1998-06-05' AS last_day,
       'negotiable' AS salary_type,
       TRUE AS is_current
FROM orders WHERE mod(o_orderkey, 200) IN (0, 100)
"""


# Registration order = the driver's execution order within this module.
# Cheapest-first, the single heaviest (the full two-run incremental
# warehouse) last: if a future driver time budget truncates again, it
# drops the one query whose parts are all gated individually above it,
# not six unique gates (the round-2 failure mode).
QUERIES = {
    "warehouse_validation": q_warehouse_validation,
    "html_ingest": q_html_ingest,
    "lake_restore": q_lake_restore,
    "forget_rows": q_forget_rows,
    "export_roundtrip": q_export_roundtrip,
    "cdc_roundtrip": q_cdc_roundtrip,
    "scd2_update": q_scd2_update,
    "fact_merge": q_fact_merge,
    "bridge_rebuild": q_bridge_rebuild,
    "top10_avg_salary": q_top10_avg_salary,
    "warehouse_rollup": q_warehouse_rollup,
    "views_salary_filter": q_views_salary_filter,
    "view_current_jobs": q_view_current_jobs,
    "view_job_locations": q_view_job_locations,
    "view_monthly_jobs": q_view_monthly_jobs,
    "view_monthly_jobs_sets": q_view_monthly_jobs_sets,
    "view_top_companies": q_view_top_companies,
    "view_top_locations": q_view_top_locations,
    "warehouse_incremental": q_warehouse_incremental,
    # registered last on purpose: the newest (least-critical) gate is the
    # one a driver time-budget truncation should drop first
    "stream_pipeline": q_stream_pipeline,
}
ORACLES = {
    "warehouse_validation": O_WAREHOUSE_VALIDATION,
    "html_ingest": O_HTML_INGEST,
    "lake_restore": O_LAKE_RESTORE,
    "forget_rows": O_FORGET_ROWS,
    "export_roundtrip": O_EXPORT_ROUNDTRIP,
    "cdc_roundtrip": O_CDC_ROUNDTRIP,
    "scd2_update": O_SCD2_UPDATE,
    "fact_merge": O_FACT_MERGE,
    "bridge_rebuild": O_BRIDGE_REBUILD,
    "top10_avg_salary": O_TOP10_AVG_SALARY,
    "warehouse_rollup": O_WAREHOUSE_ROLLUP,
    "views_salary_filter": O_VIEWS_SALARY_FILTER,
    "view_current_jobs": O_VIEW_CURRENT_JOBS,
    "view_job_locations": O_VIEW_JOB_LOCATIONS,
    "view_monthly_jobs": O_VIEW_MONTHLY_JOBS,
    "view_monthly_jobs_sets": O_VIEW_MONTHLY_JOBS_SETS,
    "view_top_companies": O_VIEW_TOP_COMPANIES,
    "view_top_locations": O_VIEW_TOP_LOCATIONS,
    "warehouse_incremental": O_WAREHOUSE_INCREMENTAL,
    "stream_pipeline": O_STREAM_PIPELINE,
}
