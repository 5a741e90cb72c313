"""Spans and Spark engine metrics for the traced run.

A span has a name, start, end and parent. Each span runs its Spark work
under its own job group, so after an operation the jobs, stages and task
metrics in Spark's status store (populated with the UI off) are
attributed to the innermost span that submitted them. Spans and counts
stay in memory until the run ends.

``instrument`` wraps the public entry points of each program module in
spans from the outside — the program itself is not edited.
"""

from __future__ import annotations

import functools
import glob
import itertools
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "group", "counts", "jobs")

    def __init__(self, sid: int, name: str, parent: Span | None, group: str):
        self.id, self.name, self.parent, self.group = sid, name, parent, group
        self.start = time.perf_counter()
        self.end: float | None = None
        self.counts: dict[str, float] = {}
        self.jobs: list[dict] = []

    @property
    def seconds(self) -> float:
        return (self.end or time.perf_counter()) - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent.id if self.parent else None,
            "start": self.start,
            "end": self.end,
            "counts": self.counts,
            "jobs": [j["job"] for j in self.jobs],
        }


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._seen_jobs: set[int] = set()
        # status-store times are epoch milliseconds; spans use perf_counter
        self._epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, name, parent, f"perfbench-span-{sid}")
        prev = {k: self.sc.getLocalProperty(k) for k in _PROPS}
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)

    # -- Spark status store ---------------------------------------------
    def harvest(self) -> None:
        """Attach every finished job not yet seen to its span."""
        by_group = {s.group: s for s in self.spans}
        jobs = self.store.jobsList(None)
        for k in range(jobs.size()):
            j = jobs.apply(k)
            jid = j.jobId()
            if jid in self._seen_jobs or not j.completionTime().isDefined():
                continue
            self._seen_jobs.add(jid)
            grp = j.jobGroup()
            span = by_group.get(grp.get()) if grp.isDefined() else None
            if span is None:
                continue
            span.jobs.append(self._job_metrics(j))

    def _job_metrics(self, j) -> dict:
        out = {
            "job": j.jobId(),
            "submit": j.submissionTime().get().getTime() / 1000.0,
            "complete": j.completionTime().get().getTime() / 1000.0,
            "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "skew_w": 0.0,
        }
        ids = j.stageIds()
        jvm = self.sc._jvm
        qs = self.sc._gateway.new_array(jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        for k in range(ids.size()):
            sid = ids.apply(k)
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            if st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            run_s = st.executorRunTime() / 1000.0
            out["run_s"] += run_s
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read"] += st.shuffleReadBytes()
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numTasks() > 1:
                summary = self.store.taskSummary(sid, st.attemptId(), qs)
                if summary.isDefined():
                    rt = summary.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    out["skew_w"] += run_s * (mx / med if med > 0 else 1.0)
                else:
                    out["skew_w"] += run_s
            else:
                out["skew_w"] += run_s
        return out

    # -- aggregation ------------------------------------------------------
    def subtree(self, root: Span) -> list[Span]:
        out, frontier = [], [root]
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent.id, []).append(s)
        while frontier:
            s = frontier.pop()
            out.append(s)
            frontier.extend(children.get(s.id, []))
        return out

    def self_seconds(self, span: Span) -> float:
        """Span time minus the union of its direct children's intervals."""
        kids = sorted(
            (c.start, c.end or c.start) for c in self.spans if c.parent is span
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def spark_totals(self, root: Span) -> dict:
        """Engine metrics of every job under ``root``; the driver gap is
        span wall time with no job running."""
        wall_start = root.start + self._epoch_offset
        wall_end = (root.end or time.perf_counter()) + self._epoch_offset
        jobs = [j for s in self.subtree(root) for j in s.jobs]
        run_s = sum(j["run_s"] for j in jobs)
        intervals = sorted((j["submit"], j["complete"]) for j in jobs)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            s, e = max(s, wall_start), min(e, wall_end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return {
            "spark.jobs": len(jobs),
            "spark.stages": sum(j["stages"] for j in jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
            "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
            "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
            "spark.spill_bytes": sum(j["spill"] for j in jobs),
            "spark.task_skew": (sum(j["skew_w"] for j in jobs) / run_s) if run_s else 1.0,
            "spark.driver_gap_s": max(0.0, (wall_end - wall_start) - busy),
        }

    def dump(self) -> list[dict]:
        return [s.as_dict() | {"self_s": self.self_seconds(s)} for s in self.spans]


def _written(span: Span, target: str) -> None:
    """Count the files, bytes and rows a ``ParquetLake.write`` produced."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(target, "**", "*.parquet"), recursive=True)
    span.counts["files"] = len(files)
    span.counts["bytes"] = sum(os.path.getsize(f) for f in files)
    span.counts["rows"] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def instrument(tracer: Tracer, captured: dict) -> list:
    """Wrap the program's module entry points in spans; returns the undo
    list for ``restore``. ``captured`` receives the last staging
    derivation and incoming fact batch, which the caller counts after the
    operation."""
    from jobinsight_data_pipeline_spark.plans import facts, pipeline, validation
    from jobinsight_data_pipeline_spark.sources import lake

    undo = []

    def patch(owner, attr, name_fn, after=None):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name_fn(*args, **kwargs)) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                after(s, out)
            return out

        setattr(owner, attr, wrapper)

    patch(lake.ParquetLake, "write", lambda self, df, table, *a, **k: f"lake.write.{table}", _written)
    patch(lake.ParquetLake, "read", lambda self, spark, table, *a, **k: f"lake.read.{table}")
    patch(pipeline, "ingest_raw", lambda *a, **k: "pipeline.ingest")
    patch(pipeline, "run_raw_to_staging", lambda *a, **k: "pipeline.staging")
    patch(pipeline, "raw_to_staging", lambda *a, **k: "staging.derive",
          lambda s, df: captured.__setitem__("staging_derived", df))
    patch(pipeline, "run_staging_to_dwh", lambda *a, **k: "pipeline.dwh")
    patch(validation, "validate_warehouse", lambda *a, **k: "validation")
    patch(facts, "build_fact_batch", lambda *a, **k: "facts.build_fact_batch",
          lambda s, df: captured.__setitem__("fact_incoming", df))
    return undo


def restore(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


def median(xs):
    return statistics.median(xs) if xs else 0.0
