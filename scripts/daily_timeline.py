#!/usr/bin/env python
"""Job timeline of one daily run: where the critical path goes.

Usage: python scripts/daily_timeline.py LAKE_DIR BATCH_PARQUET RUN_TS

Copies LAKE_DIR to a temporary directory (the original is never
written), runs one ``run_full_pipeline`` of the raw batch at
BATCH_PARQUET (RAW_JOBS schema) with run timestamp RUN_TS (ISO format,
e.g. 2025-06-15T18:00:00), and prints every Spark job of the run from
Spark's status store (populated with the UI off):

- per job: submit offset from the run's start, duration, and the
  driver gap before it (time since the last earlier-submitted job
  finished, when no job was running);
- per pipeline phase (``performance_monitor``'s phases): job count,
  wall time, summed job time and summed driver gap.

A phase whose jobs overlap shows a summed job time above its wall time.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobinsight_data_pipeline_spark.plans.pipeline import run_full_pipeline
from jobinsight_data_pipeline_spark.schemas import RAW_JOBS
from jobinsight_data_pipeline_spark.session import get_spark
from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

_PHASE_PREFIX = "performance_monitor:"


def _jobs(spark, after_id: int) -> list[dict]:
    """Finished jobs with an id above ``after_id``, by submit time."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for k in range(jobs.size()):
        j = jobs.apply(k)
        if j.jobId() <= after_id or not j.completionTime().isDefined():
            continue
        desc = j.description().get() if j.description().isDefined() else ""
        out.append(
            {
                "id": j.jobId(),
                "phase": desc.removeprefix(_PHASE_PREFIX),
                "submit": j.submissionTime().get().getTime() / 1000.0,
                "complete": j.completionTime().get().getTime() / 1000.0,
            }
        )
    return sorted(out, key=lambda j: (j["submit"], j["id"]))


def _last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(k).jobId() for k in range(jobs.size())), default=-1)


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    lake_dir, batch_path, run_ts = argv[0], argv[1], dt.datetime.fromisoformat(argv[2])
    spark = get_spark(app_name="daily-timeline")
    scratch = tempfile.mkdtemp(prefix="daily-timeline-")
    try:
        lake_copy = os.path.join(scratch, "lake")
        shutil.copytree(lake_dir, lake_copy)
        lake = ParquetLake(lake_copy)
        batch = spark.read.schema(RAW_JOBS).parquet(batch_path)
        after = _last_job_id(spark)
        start = time.time()
        report = run_full_pipeline(lake, spark, batch, run_ts)
        wall = time.time() - start
        jobs = _jobs(spark, after)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    frontier = start
    for j in jobs:
        j["gap"] = max(0.0, j["submit"] - frontier)
        frontier = max(frontier, j["complete"])

    print(f"run_full_pipeline: {wall:.2f} s wall, {len(jobs)} jobs, "
          f"driver gap {sum(j['gap'] for j in jobs):.2f} s")
    print(f"{'job':>5} {'offset_s':>9} {'dur_s':>7} {'gap_s':>7}")
    for entry in report["perf"]:
        phase = entry["phase"]
        mine = [j for j in jobs if j["phase"] == phase]
        print(
            f"\n== {phase}: {len(mine)} jobs, {entry['wall_s']:.2f} s wall, "
            f"{sum(j['complete'] - j['submit'] for j in mine):.2f} s in jobs, "
            f"{sum(j['gap'] for j in mine):.2f} s gap"
        )
        for j in mine:
            print(
                f"{j['id']:>5} {j['submit'] - start:>9.2f} "
                f"{j['complete'] - j['submit']:>7.2f} {j['gap']:>7.2f}"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
