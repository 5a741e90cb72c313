"""``operators.parallelism``: ``concurrently``'s step-order results,
join-before-raise on failure and job-group attribution across the step
threads; ``widen_for_cpu``'s contract."""

from __future__ import annotations

import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.observability import performance_monitor
from jobinsight_data_pipeline_spark.operators.parallelism import (
    concurrently,
    widen_for_cpu,
)

_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _slow(value, seconds):
    def step():
        time.sleep(seconds)
        return value

    return step


def test_results_come_back_in_step_order(spark):
    # the first step finishes last: results follow step order, not finish order
    out = concurrently(spark, _slow("a", 0.3), _slow("b", 0.0), _slow("c", 0.1))
    assert out == ["a", "b", "c"]
    assert concurrently(spark) == []


def test_many_steps_keep_every_result(spark):
    """More steps than cores, with frequent thread switches: no result
    slot is lost or crossed."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        steps = [lambda i=i: sum(range(i * 1000)) for i in range(32)]
        assert concurrently(spark, *steps) == [sum(range(i * 1000)) for i in range(32)]
    finally:
        sys.setswitchinterval(old)


def test_failure_reraised_after_every_sibling_finished(spark):
    before = set(threading.enumerate())
    finished = threading.Event()

    def fails_late():
        time.sleep(0.2)
        raise ValueError("late")

    def fails_early():
        raise KeyError("early")

    def sibling():
        time.sleep(0.5)
        finished.set()
        return "done"

    # the first failure in step order wins, whichever raised first
    with pytest.raises(ValueError, match="late"):
        concurrently(spark, fails_late, fails_early, sibling)
    assert finished.is_set()  # the slow sibling ran to completion first
    assert set(threading.enumerate()) == before  # no helper thread left


def test_caller_job_group_covers_every_step(spark):
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k) for k in _PROPS}
    sc.setJobGroup("concurrently-test", "concurrently")
    try:
        counts = concurrently(
            spark, *[lambda n=n: spark.range(n).count() for n in (10, 20, 30)]
        )
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    assert counts == [10, 20, 30]
    assert len(sc.statusTracker().getJobIdsForGroup("concurrently-test")) >= 3


def test_step_job_group_does_not_leak_into_siblings(spark):
    """Each step gets its own snapshot of the caller's properties, so a
    step that sets its own group (a nested monitor, a tracer span) leaves
    its siblings' jobs in the caller's group."""
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k) for k in _PROPS}
    group_set = threading.Event()

    def own_group():
        sc.setJobGroup("concurrently-own", "own")
        group_set.set()
        return spark.range(5).count()

    def sibling():
        group_set.wait(10)
        return spark.range(7).count()

    sc.setJobGroup("concurrently-outer", "outer")
    try:
        assert concurrently(spark, own_group, sibling) == [5, 7]
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    tracker = sc.statusTracker()
    own = set(tracker.getJobIdsForGroup("concurrently-own"))
    outer = set(tracker.getJobIdsForGroup("concurrently-outer"))
    assert own and outer and not own & outer


def test_performance_monitor_counts_step_jobs(spark):
    report: list[dict] = []
    with performance_monitor(spark, "concurrent", report):
        concurrently(spark, *[lambda: spark.range(10).count() for _ in range(4)])
    assert report[-1]["ok"] and report[-1]["n_jobs"] >= 4


def test_widen_adds_one_round_robin_exchange_to_a_single_split_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # the fixture is one split
    target = spark.sparkContext.defaultParallelism
    wide = widen_for_cpu(docs)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    (ex,) = [line for line in plan.splitlines() if "Exchange" in line]
    assert f"RoundRobinPartitioning({target})" in ex, ex
    assert wide.rdd.getNumPartitions() == target


def test_widen_passes_wide_and_streaming_frames_through(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wide = widen_for_cpu(docs)
    assert widen_for_cpu(wide) is wide
    stream = spark.readStream.format("rate").load()
    assert widen_for_cpu(stream) is stream


def test_second_widen_of_a_frame_submits_no_job(spark):
    """The partition probe runs the upstream shuffle when the frame
    holds one, but its result is cached on the frame object: operators
    handed the same frame (the day-2 gates give one frame to the
    classifier and to the BPE encoder) probe it once between them."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    grouped = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    joined = docs.join(grouped, "source")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    prev = {k: sc.getLocalProperty(k) for k in _PROPS}
    try:
        sc.setJobGroup("widen-first", "first")
        first = widen_for_cpu(joined)
        sc.setJobGroup("widen-second", "second")
        second = widen_for_cpu(joined)
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    assert tracker.getJobIdsForGroup("widen-first")  # the probe ran a job
    assert tracker.getJobIdsForGroup("widen-second") == []
    logical = [w._jdf.queryExecution().logical().toString() for w in (first, second)]
    assert logical[0] == logical[1]
