"""End-to-end pipeline tests: raw → staging → star schema over a temp lake.

Scenario rows follow FIXTURES.md §4: SCD2 update/no-change, intra-batch
duplicate natural key, multi-location + no-location jobs, salary edge
cases, expired vs active, null-heavy row.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.plans.pipeline import (
    ingest_raw,
    run_full_pipeline,
    run_raw_to_staging,
    run_staging_to_dwh,
)
from jobinsight_data_pipeline_spark.schemas import RAW_JOBS
from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

D1 = dt.datetime(2025, 6, 1, 18, 0, 0)
D2 = dt.datetime(2025, 6, 2, 18, 0, 0)


def raw_row(job_id, title, company, salary, location, location_detail, deadline,
            crawled, skills=None, verified=False, last_update=None, posted=None):
    return (
        job_id, title, f"https://jobs/{job_id}", company, None, salary,
        skills, location, location_detail, deadline, verified, last_update,
        None, posted, crawled,
    )


@pytest.fixture()
def lake(tmp_path):
    return ParquetLake(str(tmp_path / "lake"))


def day1_batch(spark):
    rows = [
        raw_row("J1", "Senior Python Developer - Urgent", "công ty tnhh ABC",
                "15 - 20 triệu", "Hà Nội", "<div>Hà Nội: Cầu Giấy</div>", "30",
                D1, skills=["Python", "SQL"], verified=True,
                last_update="Cập nhật 2 giờ trước", posted=dt.datetime(2025, 5, 20)),
        # multi-location job (2 cities)
        raw_row("J2", "Data Engineer", "FPT Software",
                "1,000 - 2,000 USD", "Hồ Chí Minh & Đà Nẵng",
                "<div>Hồ Chí Minh: Q1<br/>Đà Nẵng: Hải Châu</div>", "15",
                D1, skills=["Spark"], posted=dt.datetime(2025, 5, 25)),
        # no-location job → bridge must fall back to Unknown
        raw_row("J3", "Tester", "QA Corp", "Thoả thuận", None, None, "7", D1),
        # expired job (deadline passed relative to D1)
        raw_row("J4", "Old Job", "Old Co", "Từ 12 triệu", "Cần Thơ", None, "0",
                D1 - dt.timedelta(days=10)),
        # intra-batch duplicate natural key: later crawled_at must win
        raw_row("J5", "Dup v1", "Dup Co", "30 triệu", "Huế", None, "10",
                D1 - dt.timedelta(hours=2)),
        raw_row("J5", "Dup v2", "Dup Co", "30 triệu", "Huế", None, "10",
                D1 - dt.timedelta(hours=1)),
        # null-heavy hostile row
        raw_row("J6", "Mystery", None, None, None, None, None, D1),
    ]
    return spark.createDataFrame(rows, RAW_JOBS)


def day2_batch(spark):
    return spark.createDataFrame(
        [
            # J1 re-crawled with changed title → SCD2 update
            raw_row("J1", "Staff Python Developer", "công ty tnhh ABC",
                    "18 - 25 triệu", "Hà Nội", "<div>Hà Nội: Cầu Giấy</div>", "30",
                    D2, skills=["Python", "SQL"], verified=True,
                    last_update="Cập nhật 1 giờ trước", posted=dt.datetime(2025, 5, 20)),
            # J2 identical re-crawl (same tracked cols) → unchanged
            raw_row("J2", "Data Engineer", "FPT Software",
                    "1,000 - 2,000 USD", "Hồ Chí Minh & Đà Nẵng",
                    "<div>Hồ Chí Minh: Q1<br/>Đà Nẵng: Hải Châu</div>", "15",
                    D2, skills=["Spark"], posted=dt.datetime(2025, 5, 25)),
            # brand-new job
            raw_row("J7", "ML Engineer", "AI Labs", "tới 25 triệu", "Hà Nội",
                    None, "20", D2),
        ],
        RAW_JOBS,
    )


def test_full_pipeline_day1(spark, lake):
    report = run_full_pipeline(lake, spark, day1_batch(spark), D1)
    assert report["staging"]["passed"]
    assert report["dwh"]["passed"], report["dwh"]

    staging = lake.read(spark, "staging_jobs")
    by_id = {r["job_id"]: r for r in staging.collect()}
    assert len(by_id) == 6  # J5 deduped
    assert by_id["J5"]["title"] == "Dup v2"  # last write won
    assert by_id["J1"]["salary_min"] == 15.0 and by_id["J1"]["salary_max"] == 20.0
    assert by_id["J2"]["salary_type"] == "range"  # USD range
    assert by_id["J2"]["location"] == "Hồ Chí Minh, Đà Nẵng"  # & refinement
    assert by_id["J3"]["salary_type"] == "negotiable"
    assert by_id["J1"]["due_date"] == dt.datetime(2025, 7, 1, 18, 0, 0)

    dim_job = lake.read(spark, "dim_job")
    # J4 was crawled 10 days before the run → outside the 7-day lookback
    assert dim_job.count() == 5
    assert dim_job.filter(F.col("is_current")).count() == 5
    assert dim_job.filter("job_id = 'J4'").count() == 0
    # surrogate keys start at the reference's sequence seed
    assert dim_job.agg(F.min("job_sk")).collect()[0][0] == 10000

    dim_location = lake.read(spark, "dim_location")
    cities = {
        (r["province"], r["city"], r["district"])
        for r in dim_location.collect()
    }
    assert (None, "Unknown", None) in cities
    assert (None, "Hà Nội", "Cầu Giấy") in cities
    assert (None, "Hồ Chí Minh", "Q1") in cities

    fact = lake.read(spark, "fact_job_posting_daily")
    # in-lookback staging rows × 5 fan-out days; J6 has NULL company →
    # unresolvable → dropped; J4 outside lookback
    n_resolvable = 4
    assert fact.count() == n_resolvable * 5
    # grain uniqueness
    assert (
        fact.groupBy("job_sk", "date_id").count().filter("count > 1").count() == 0
    )
    assert fact.select("load_month").distinct().collect()[0][0] == "2025-06"

    bridge = lake.read(spark, "fact_job_location_bridge")
    # every fact row has at least one bridge row
    assert fact.join(bridge, "fact_id", "left_anti").count() == 0
    # J2's facts have 2 locations each
    j2_sk = dim_job.filter("job_id = 'J2'").collect()[0]["job_sk"]
    j2_fact_ids = [r["fact_id"] for r in fact.filter(F.col("job_sk") == j2_sk).collect()]
    assert bridge.filter(F.col("fact_id").isin(j2_fact_ids)).count() == len(j2_fact_ids) * 2
    # J3 bridges to Unknown
    unknown_sk = dim_location.filter(
        "city = 'Unknown' AND province IS NULL AND district IS NULL"
    ).collect()[0]["location_sk"]
    j3_sk = dim_job.filter("job_id = 'J3'").collect()[0]["job_sk"]
    j3_fact_ids = [r["fact_id"] for r in fact.filter(F.col("job_sk") == j3_sk).collect()]
    assert bridge.filter(F.col("fact_id").isin(j3_fact_ids)).select("location_sk").distinct().collect()[0][0] == unknown_sk


def test_scd2_day2_and_idempotency(spark, lake):
    run_full_pipeline(lake, spark, day1_batch(spark), D1)

    day2 = day2_batch(spark)
    report = run_full_pipeline(lake, spark, day2, D2)
    assert report["dwh"]["passed"], report["dwh"]
    stats = report["dwh"]["dim_stats"]["dim_job"]
    assert stats["inserted"] == 1  # J7
    assert stats["updated"] == 1  # J1 (title changed)
    # J2 unchanged; J3/J5/J6 also still within lookback → unchanged
    assert stats["unchanged"] == 4

    dim_job = lake.read(spark, "dim_job")
    j1 = dim_job.filter("job_id = 'J1'").orderBy("effective_date").collect()
    assert len(j1) == 2
    assert j1[0]["is_current"] is False and j1[0]["expiry_date"] == D2.date()
    assert j1[1]["is_current"] is True and j1[1]["title_clean"] == "Staff Python Developer"
    assert j1[1]["job_sk"] != j1[0]["job_sk"]

    fact = lake.read(spark, "fact_job_posting_daily")
    # day-2 facts for J1 reference the NEW sk; day-1-only grains keep old sk
    new_sk = j1[1]["job_sk"]
    d2_facts = fact.filter(
        (F.col("date_id") >= F.lit(D2.date())) & F.col("job_sk").isin([j1[0]["job_sk"], new_sk])
    )
    assert d2_facts.filter(F.col("job_sk") == new_sk).count() > 0

    # grain uniqueness still holds after overlapping-day merge
    assert fact.groupBy("job_sk", "date_id").count().filter("count > 1").count() == 0

    # --- idempotency: re-run day 2 → same fact count, same dim versions
    before_fact = fact.count()
    before_dims = dim_job.count()
    report2 = run_full_pipeline(lake, spark, day2, D2)
    assert report2["dwh"]["passed"]
    assert lake.read(spark, "fact_job_posting_daily").count() == before_fact
    assert lake.read(spark, "dim_job").count() == before_dims
    stats2 = report2["dwh"]["dim_stats"]["dim_job"]
    assert stats2["updated"] == 0 and stats2["inserted"] == 0


def test_dedupe_fact_grain_repoints_bridge(spark):
    """FIXTURES §4.9: pre-seeded duplicate grains — keep MIN(fact_id),
    repoint the losers' bridge rows to the survivor, dedupe pairs."""
    from jobinsight_data_pipeline_spark.plans.facts import dedupe_fact_grain

    fact = spark.createDataFrame(
        [
            (100, 1, dt.date(2025, 6, 1)),
            (101, 1, dt.date(2025, 6, 1)),  # duplicate grain → loser
            (102, 2, dt.date(2025, 6, 1)),
        ],
        "fact_id long, job_sk long, date_id date",
    )
    bridge = spark.createDataFrame(
        [(100, 500), (101, 500), (101, 501), (102, 502)],
        "fact_id long, location_sk long",
    )
    survivors, new_bridge = dedupe_fact_grain(fact, bridge)
    assert {r["fact_id"] for r in survivors.collect()} == {100, 102}
    rows = {(r["fact_id"], r["location_sk"]) for r in new_bridge.collect()}
    # loser 101's rows repointed to survivor 100; (100,500) deduped
    assert rows == {(100, 500), (100, 501), (102, 502)}


def test_lake_restore(spark, lake):
    run_full_pipeline(lake, spark, day1_batch(spark), D1)
    v1 = lake.current_version("dim_job")
    day2 = spark.createDataFrame(
        [raw_row("J9", "New", "New Co", "5 triệu", "Hà Nội", None, "5", D2)], RAW_JOBS
    )
    run_full_pipeline(lake, spark, day2, D2)
    assert lake.current_version("dim_job") != v1
    restored = lake.restore("dim_job", v1)
    assert restored == v1
    assert lake.read(spark, "dim_job").filter("job_id = 'J9'").count() == 0


def test_lake_time_travel_read(spark, tmp_path):
    """Version-pinned reads: every retained snapshot stays readable
    without moving the pointer; the pointer keeps serving the latest."""
    import pytest

    from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

    lake = ParquetLake(str(tmp_path / "lake"), keep_versions=5)
    for i in range(3):
        lake.write(spark.range(i, i + 2).selectExpr("id", f"{i} AS batch"), "t")

    assert lake.read(spark, "t").agg({"batch": "max"}).first()[0] == 2
    assert lake.read(spark, "t", version=0).first()["batch"] == 0
    assert lake.read(spark, "t", version="_v00001").first()["batch"] == 1
    # time-travel read does NOT move the pointer
    assert lake.current_version("t") == "_v00002"
    with pytest.raises(ValueError):
        lake.read(spark, "t", version=99)


def test_performance_monitor_attributes_jobs_and_nests(spark):
    """Wall time, per-phase Spark-job attribution via job groups, nesting
    restores the outer group, and a failing phase records ok=False
    before re-raising — the reference's per-phase monitor contract."""
    import pytest as _pytest

    from jobinsight_data_pipeline_spark.observability import (
        performance_monitor,
    )

    report: list[dict] = []
    with performance_monitor(spark, "outer", report):
        spark.range(10).count()
        with performance_monitor(spark, "inner", report):
            spark.range(10).count()
            spark.range(10).count()
        # after the nested block the outer group is restored, so this
        # job attributes to OUTER
        spark.range(10).count()

    inner, outer = report
    assert (inner["phase"], outer["phase"]) == ("inner", "outer")
    assert inner["ok"] and outer["ok"]
    # jobs-per-action varies with AQE, so assert attribution, not exact
    # counts: both phases ran work, and the nested phase's two actions
    # never collapse below two jobs
    assert inner["n_jobs"] >= 2
    assert outer["n_jobs"] >= 2  # the first count + the post-nest count
    assert inner["wall_s"] <= outer["wall_s"]

    with _pytest.raises(RuntimeError):
        with performance_monitor(spark, "boom", report):
            raise RuntimeError("phase failed")
    assert report[-1]["phase"] == "boom" and report[-1]["ok"] is False


def test_lake_crash_consistency(spark, tmp_path):
    """A writer that dies AFTER materializing a version dir but BEFORE
    the atomic pointer flip must be invisible to readers, and the next
    successful write must claim a fresh version number (never reuse or
    serve the orphan)."""
    from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

    lake = ParquetLake(str(tmp_path / "lake"))
    lake.write(spark.range(0, 10).withColumnRenamed("id", "k"), "t")
    assert lake.current_version("t") == "_v00000"

    # simulate the crash: a fully-materialized _v00001 with no pointer flip
    orphan = str(tmp_path / "lake" / "t" / "_v00001")
    spark.range(100, 105).withColumnRenamed("id", "k").write.parquet(orphan)

    # readers still serve the pointer version, untouched
    assert lake.current_version("t") == "_v00000"
    assert lake.read(spark, "t").count() == 10

    # the next writer does not reuse the orphan's number and the pointer
    # lands on the NEW write's content
    lake.write(spark.range(0, 20).withColumnRenamed("id", "k"), "t")
    assert lake.current_version("t") == "_v00002"
    assert lake.read(spark, "t").count() == 20
    # the orphan is still pinnable for forensics until vacuumed
    assert lake.read(spark, "t", version="_v00001").count() == 5


TABLES = [
    "raw_jobs", "staging_jobs", "dim_job", "dim_company", "dim_location",
    "dim_date", "fact_job_posting_daily", "fact_job_location_bridge",
]


def table_contents(spark, lake) -> dict:
    """Every table's rows, order-free (the tables are a few dozen rows)."""
    return {
        t: sorted(map(tuple, lake.read(spark, t).collect()), key=repr) for t in TABLES
    }


@pytest.fixture(scope="module")
def uninterrupted_day2(spark, tmp_path_factory):
    """Day 1 then day 2 with no fault, default retention: the tables and
    the day-2 report."""
    lake = ParquetLake(str(tmp_path_factory.mktemp("uninterrupted") / "lake"))
    run_full_pipeline(lake, spark, day1_batch(spark), D1)
    report = run_full_pipeline(lake, spark, day2_batch(spark), D2)
    return table_contents(spark, lake), report


def test_keep_one_version_runs_two_days(spark, tmp_path, uninterrupted_day2):
    """With keep_versions=1 a write vacuums the version it replaced; the
    dim stats read that version, so they must be collected before the
    write."""
    lake = ParquetLake(str(tmp_path / "lake"), keep_versions=1)
    run_full_pipeline(lake, spark, day1_batch(spark), D1)
    report = run_full_pipeline(lake, spark, day2_batch(spark), D2)
    _, reference = uninterrupted_day2
    assert report["dwh"]["passed"], report["dwh"]
    assert report["dwh"]["dim_stats"] == reference["dwh"]["dim_stats"]
    assert all(len(lake.versions(t)) == 1 for t in TABLES)


def test_failed_run_then_rerun_converges(spark, tmp_path, monkeypatch, uninterrupted_day2):
    """A fault in one dimension branch fails the run (after its sibling
    branches finished their writes); re-running the day without the
    fault lands on the uninterrupted day's tables."""
    from jobinsight_data_pipeline_spark.plans import pipeline

    lake = ParquetLake(str(tmp_path / "lake"))
    run_full_pipeline(lake, spark, day1_batch(spark), D1)
    ingest_raw(lake, day2_batch(spark))
    run_raw_to_staging(lake, spark, D2)

    def broken(*args, **kwargs):
        raise RuntimeError("dim_company fault")

    monkeypatch.setattr(pipeline, "build_dim_company", broken)
    with pytest.raises(RuntimeError, match="dim_company fault"):
        run_staging_to_dwh(lake, spark, D2)
    monkeypatch.undo()

    report = run_full_pipeline(lake, spark, day2_batch(spark), D2)
    assert report["dwh"]["passed"], report["dwh"]
    tables, _ = uninterrupted_day2
    assert table_contents(spark, lake) == tables
