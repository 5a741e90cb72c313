"""The benchmark's workloads. Each calls only the program's public
functions: ``plans.pipeline.run_full_pipeline`` over a
``sources.lake.ParquetLake``, the ``plans.views`` functions and the
``operators.dedup`` pair finders.

A workload has an untimed ``setup`` and ``prepare(i)``, a timed ``op(i)``
and an untimed ``check(i, out)``; in a traced run ``layers(i, out, root)``
adds the per-layer counts of operation ``i``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import checks
import gen

D0 = dt.datetime(2025, 6, 1, 18, 0, 0)  # history: bulk load
HISTORY_DAYS = 4  # history: daily runs after the bulk load, one day apart
HISTORY_END = D0 + dt.timedelta(days=HISTORY_DAYS)  # the views' run date
D1 = HISTORY_END + dt.timedelta(days=10)  # daily run: history is outside its lookback
HISTORY_SEED = 20250601
HISTORY_ROWS = 3000
DAILY_ROWS = 383  # BASELINE.md: ~383 postings a day
BACKFILL_ROWS = 12000
CORPUS_DOCS = 500
CORPUS_DUP_SHARE = 0.2
CORPUS_EDIT_RATE = 0.05

# part of every recorded digest's key, so a size change starts afresh
SIZES = f"h{HISTORY_ROWS}x{HISTORY_DAYS}-d{DAILY_ROWS}-b{BACKFILL_ROWS}-c{CORPUS_DOCS}"

LAKE_TABLES = [
    "raw_jobs", "staging_jobs", "dim_job", "dim_company", "dim_location",
    "dim_date", "fact_job_posting_daily", "fact_job_location_bridge",
]
VIEW_NAMES = [
    "vw_current_jobs", "vw_job_locations", "vw_monthly_jobs", "vw_monthly_jobs_sets",
    "vw_top_companies", "vw_top_locations", "vw_job_salary_filter", "vw_top10_hn",
]
DEDUP_OPS = ["ngram_jaccard_pairs", "minhash_lsh_pairs", "simhash_near_pairs"]


class Context:
    def __init__(self, spark, work: str, state: str, seed: int):
        self.spark, self.work, self.state, self.seed = spark, work, state, seed
        self.tracer = None  # set for the timed operations of a traced run
        self.captured: dict = {}

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()


def read_raw(spark, path: str):
    from jobinsight_data_pipeline_spark.schemas import RAW_JOBS

    return spark.read.schema(RAW_JOBS).parquet(path)


def program_fingerprint() -> str:
    """Content hash of the program package (the checkout may not be a git
    repository). It keys everything a later run reuses, so two versions of
    the program run in one checkout never share a warehouse."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(os.getcwd(), "jobinsight_data_pipeline_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def history_market() -> tuple[gen.JobMarket, list[tuple[dt.datetime, list[tuple]]], list[tuple], int]:
    """The history's market, its runs, the latest crawl of every posting
    in the dimensions and the count of distinct raw postings."""
    market = gen.JobMarket(HISTORY_SEED)
    runs, current, raw_rows = market.history_runs(HISTORY_ROWS, HISTORY_DAYS, DAILY_ROWS, D0)
    return market, runs, current, raw_rows


def history_dir(state: str) -> str:
    sizes = f"h{HISTORY_ROWS}x{HISTORY_DAYS}-d{DAILY_ROWS}"
    return os.path.join(state, f"history-{HISTORY_SEED}-{sizes}-{program_fingerprint()}")


def build_history(spark, work: str, target: str) -> None:
    """Run the program over the history's runs into a new lake at
    ``target``: a bulk load, then ``HISTORY_DAYS`` daily runs."""
    from jobinsight_data_pipeline_spark.plans.pipeline import run_full_pipeline
    from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

    tmp = os.path.join(work, "history")
    os.makedirs(tmp)
    lake = ParquetLake(os.path.join(tmp, "lake"))
    _, runs, _, raw_rows = history_market()
    raw_bytes = 0
    for k, (ts, rows) in enumerate(runs):
        raw_path = os.path.join(tmp, f"run-{k}.parquet")
        raw_bytes += gen.write_raw(rows, raw_path)
        report = run_full_pipeline(lake, spark, read_raw(spark, raw_path), ts)
        if not (report["staging"]["passed"] and report["dwh"]["passed"]):
            raise RuntimeError(f"history run {k} failed validation: {report['dwh']}")
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"raw_bytes": raw_bytes, "rows": raw_rows}, fh)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    shutil.rmtree(target, ignore_errors=True)
    os.replace(tmp, target)


def ensure_history(state: str, work: str) -> None:
    """Build the history warehouse in a child process, the first time this
    version of the program needs it in this checkout, so that the timed
    operations of every run start in a cold process."""
    import subprocess
    import sys

    final = history_dir(state)
    if os.path.exists(os.path.join(final, "meta.json")):
        return
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "build_history.py")
    subprocess.run(
        [sys.executable, script, final, os.path.join(work, "history-build")],
        check=True, stdout=sys.stderr, timeout=840,
    )


def history(state: str) -> tuple[str, dict]:
    """The history lake and its meta (raw bytes and rows loaded)."""
    final = history_dir(state)
    with open(os.path.join(final, "meta.json")) as fh:
        return os.path.join(final, "lake"), json.load(fh)


def _known_digest(ctx: Context, workload: str, digest: str) -> bool:
    """True iff ``digest`` equals the first one recorded in this checkout
    for the same workload and seed (recording it if it is the first)."""
    path = os.path.join(ctx.state, "digests.json")
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    key = f"{workload}:{ctx.seed}:{SIZES}"
    if key not in known:
        known[key] = digest
        with open(path + ".tmp", "w") as fh:
            json.dump(known, fh, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return known[key] == digest


class Workload:
    name = ""
    rows_per_op = 1
    needs_history = False  # run.py builds the history before Spark starts
    round = 1  # operations per round; a run measures whole rounds
    min_ops = 1  # operations a run measures at least

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.input_bytes = 1
        self.digests: dict = {}

    def setup(self) -> None:
        pass

    def warmup(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> bool:
        raise NotImplementedError

    def rows(self, i: int) -> int:
        """Input rows operation ``i`` completes."""
        return self.rows_per_op

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def layers(self, i: int, out, root) -> dict:
        """Per-layer values of operation ``i``, whose span is ``root``."""
        return {}

    def evidence(self) -> dict:
        return {}


class _Pipeline(Workload):
    """One ``run_full_pipeline`` call per operation. The first one in a
    process is cold, as a daily batch job is."""

    run_ts = D1

    def prepare(self, i: int) -> None:
        from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

        root = os.path.join(self.ctx.work, "lake")
        shutil.rmtree(root, ignore_errors=True)
        if self.snapshot:
            shutil.copytree(self.snapshot, root)
        self.lake = ParquetLake(root)

    def op(self, i: int):
        from jobinsight_data_pipeline_spark.plans.pipeline import run_full_pipeline

        return run_full_pipeline(self.lake, self.ctx.spark, read_raw(self.ctx.spark, self.batch_path), self.run_ts)

    def check(self, i: int, out) -> bool:
        dwh = out["dwh"]
        ok = (
            out["staging"]["passed"]
            and dwh["passed"]
            and not dwh["critical_failures"]
            and dwh["dim_stats"]["dim_job"] == self.expected_dim_job
            and checks.live_rows(self.lake, "raw_jobs") == self.expected_raw_rows
        )
        digest = checks.lake_digest(self.lake, LAKE_TABLES)
        self.digests[i] = digest
        return bool(ok) and _known_digest(self.ctx, self.name, digest)

    def stored_bytes(self) -> int:
        return checks.live_bytes(self.lake, LAKE_TABLES)

    def evidence(self) -> dict:
        return {
            "live_versions": {t: self.lake.current_version(t) for t in LAKE_TABLES},
            "warehouse_digest": self.digests,
        }

    def layers(self, i: int, out, root) -> dict:
        tr = self.ctx.tracer
        spans = tr.subtree(root)

        def secs(prefix: str) -> float:
            return sum(s.seconds for s in spans if s.name.startswith(prefix))

        writes = [s for s in spans if s.name.startswith("lake.write.")]
        written = sum(s.counts.get("bytes", 0) for s in writes)
        m = {f"lake.write_s.{t}": secs(f"lake.write.{t}") for t in LAKE_TABLES}
        m["lake.bytes_written"] = written
        m["lake.files_written"] = sum(s.counts.get("files", 0) for s in writes)
        m["lake.bytes_written_per_input_byte"] = written / self.batch_bytes
        m["lake.reads"] = sum(1 for s in spans if s.name.startswith("lake.read."))
        for t in LAKE_TABLES:
            m[f"lake.files_live.{t}"] = len(checks.live_files(self.lake, t))
        m["pipeline.ingest_s"] = secs("pipeline.ingest")
        m["pipeline.staging_s"] = secs("pipeline.staging")
        m["pipeline.dwh_s"] = secs("pipeline.dwh")
        batch_rows = self.batch_rows
        m["staging.rows_derived_per_row_ingested"] = self.ctx.captured.pop("staging_derived").count() / batch_rows
        stg = [s for s in spans if s.name == "lake.write.staging_jobs"]
        m["staging.executor_cpu_s"] = sum(
            tr.spark_totals(s)["spark.executor_cpu_s"] for s in stg
        )
        m["dims.write_s"] = sum(
            secs(f"lake.write.{t}") for t in ("dim_job", "dim_company", "dim_location", "dim_date")
        )
        for k, v in out["dwh"]["dim_stats"]["dim_job"].items():
            m[f"scd2.{k}"] = v
        incoming = self.ctx.captured.pop("fact_incoming").count()
        fact_rows = checks.live_rows(self.lake, "fact_job_posting_daily")

        def rewritten(table: str) -> float:
            return sum(s.counts.get("rows", 0) for s in writes if s.name == f"lake.write.{table}")

        m["merge.rows_rewritten_per_row_changed.raw_jobs"] = rewritten("raw_jobs") / batch_rows
        m["merge.rows_rewritten_per_row_changed.staging_jobs"] = rewritten("staging_jobs") / batch_rows
        m["merge.rows_rewritten_per_row_changed.fact_job_posting_daily"] = (
            rewritten("fact_job_posting_daily") / max(incoming, 1)
        )
        m["facts.fact_write_s"] = secs("lake.write.fact_job_posting_daily")
        m["facts.bridge_write_s"] = secs("lake.write.fact_job_location_bridge")
        m["facts.rows_incoming"] = incoming
        m["facts.rows_total"] = fact_rows
        val = [s for s in spans if s.name == "validation"]
        m["validation.s"] = sum(s.seconds for s in val)
        m["validation.jobs"] = sum(tr.spark_totals(s)["spark.jobs"] for s in val)
        return m


class DailyIncremental(_Pipeline):
    """A fresh day's batch merged into a restored history snapshot."""

    name = "daily_incremental"
    rows_per_op = DAILY_ROWS
    needs_history = True

    def setup(self) -> None:
        self.snapshot, meta = history(self.ctx.state)
        market, _, current, _ = history_market()
        market.reseed(self.ctx.seed)
        rows, counts = market.daily(current, DAILY_ROWS, D1)
        self.batch_path = os.path.join(self.ctx.work, "day.parquet")
        self.batch_bytes = gen.write_raw(rows, self.batch_path)
        self.batch_rows = len(rows)
        self.input_bytes = meta["raw_bytes"] + self.batch_bytes
        self.expected_dim_job = {
            "inserted": counts["new"], "updated": counts["changed"], "unchanged": counts["unchanged"]
        }
        self.expected_raw_rows = meta["rows"] + counts["new"] + counts["old"]


class BulkBackfill(_Pipeline):
    """One large batch loaded into an empty lake."""

    name = "bulk_backfill"
    rows_per_op = BACKFILL_ROWS
    run_ts = D0
    snapshot = None

    def setup(self) -> None:
        market = gen.JobMarket(self.ctx.seed)
        rows, counts = market.backfill(BACKFILL_ROWS, D0)
        self.batch_path = os.path.join(self.ctx.work, "backfill.parquet")
        self.batch_bytes = self.input_bytes = gen.write_raw(rows, self.batch_path)
        self.batch_rows = len(rows)
        self.expected_dim_job = {"inserted": counts["new"], "updated": 0, "unchanged": 0}
        self.expected_raw_rows = len(rows)


class AnalystViews(Workload):
    """A single closed-loop client running the 8 views round-robin over
    the history warehouse. Each query reads the lake's current tables,
    registers them, builds the view and fetches its rows as Arrow. The
    warehouse does not depend on the seed."""

    name = "analyst_views"
    round = len(VIEW_NAMES)
    needs_history = True

    def setup(self) -> None:
        from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

        snapshot, meta = history(self.ctx.state)
        root = os.path.join(self.ctx.work, "lake")
        shutil.copytree(snapshot, root)
        self.lake = ParquetLake(root)
        self.input_bytes = meta["raw_bytes"]
        self.rows_per_op = checks.live_rows(self.lake, "fact_job_posting_daily")
        self.duck = checks.DuckViews(self.lake, HISTORY_END.date(), self.ctx.work)
        # the reference results are computed here, so that DuckDB's memory
        # is resident before the first timed query, as it is before every
        # later one
        for name in VIEW_NAMES:
            self.duck.reference(name)

    def warmup(self) -> None:
        for i in range(len(VIEW_NAMES)):
            self.op(i)

    def view(self, i: int) -> str:
        # a fixed order: the median query is then the same view every run
        return VIEW_NAMES[i % len(VIEW_NAMES)]

    def op(self, i: int):
        from jobinsight_data_pipeline_spark.plans import views

        spark = self.ctx.spark
        name = self.view(i)
        views.register_dwh_views(
            spark, *[self.lake.read(spark, t) for t in checks.DuckViews.TABLES.values()]
        )
        with self.ctx.span("views.plan"):
            fn = getattr(views, name)
            df = fn(spark, HISTORY_END.date()) if name in ("vw_job_salary_filter", "vw_top10_hn") else fn(spark)
        with self.ctx.span(f"views.{name}"):
            return df.toArrow()

    def check(self, i: int, out) -> bool:
        return self.duck.check(self.view(i), out)

    def stored_bytes(self) -> int:
        return checks.live_bytes(self.lake, LAKE_TABLES)

    def layers(self, i: int, out, root) -> dict:
        tr = self.ctx.tracer
        spans = tr.subtree(root)
        m = {"lake.reads": sum(1 for s in spans if s.name.startswith("lake.read."))}
        for t in LAKE_TABLES:
            m[f"lake.files_live.{t}"] = len(checks.live_files(self.lake, t))
        m["views.plan_s"] = sum(s.seconds for s in spans if s.name == "views.plan")
        name = self.view(i)
        m[f"views.{name}_s"] = sum(s.seconds for s in spans if s.name == f"views.{name}")
        return m

    def evidence(self) -> dict:
        return {"live_versions": {t: self.lake.current_version(t) for t in LAKE_TABLES}}


class CorpusDedup(Workload):
    """One pass of the three dedup pair finders over a seeded corpus with
    planted near-duplicate reposts."""

    name = "corpus_dedup"
    rows_per_op = CORPUS_DOCS

    def setup(self) -> None:
        docs, self.planted = gen.dedup_corpus(
            self.ctx.seed, CORPUS_DOCS, CORPUS_DUP_SHARE, CORPUS_EDIT_RATE
        )
        path = os.path.join(self.ctx.work, "corpus.parquet")
        self.stored = gen.write_corpus(docs, path)
        self.input_bytes = sum(len(t.encode()) for _, t in docs)
        self.df = self.ctx.spark.read.parquet(path)
        self.first = None

    def warmup(self) -> None:
        # the first pass is ~3x slower (JIT) and the second still ~25%
        for _ in range(2):
            self.op(-1)

    def op(self, i: int):
        return self.run_finders(self.df)

    def run_finders(self, df) -> dict:
        from jobinsight_data_pipeline_spark.operators import dedup

        out = {}
        for name in DEDUP_OPS:
            with self.ctx.span(f"dedup.{name}"):
                rows = getattr(dedup, name)(df, "doc_id", "text").select("doc_a", "doc_b").collect()
            out[name] = {(r[0], r[1]) for r in rows}
        return out

    def check(self, i: int, out) -> bool:
        exact = out["ngram_jaccard_pairs"] == self.planted
        subsets = all(out[n] <= self.planted for n in DEDUP_OPS)
        if self.first is None:
            self.first = out
        digest = json.dumps({n: sorted(map(list, out[n])) for n in DEDUP_OPS})
        import hashlib

        same = _known_digest(self.ctx, self.name, hashlib.sha256(digest.encode()).hexdigest()[:32])
        return exact and subsets and out == self.first and same

    def stored_bytes(self) -> int:
        return self.stored

    def layers(self, i: int, out, root) -> dict:
        tr = self.ctx.tracer
        spans = tr.subtree(root)
        m = {f"dedup.{n}_s": sum(s.seconds for s in spans if s.name == f"dedup.{n}") for n in DEDUP_OPS}
        cand = out["minhash_lsh_pairs"] | out["simhash_near_pairs"]
        verified = cand & out["ngram_jaccard_pairs"]
        m["dedup.candidate_pairs"] = len(cand)
        m["dedup.verified_pairs"] = len(verified)
        m["dedup.verified_per_candidate"] = len(verified) / len(cand) if cand else 0.0
        return m

    def evidence(self) -> dict:
        return {
            "planted_pairs": len(self.planted),
            "pairs": {n: len(v) for n, v in (self.first or {}).items()},
        }


class AnalystReads(Workload):
    """One closed-loop analyst client whose round is the 8 views of
    ``analyst_views`` followed by one repost-detection pass of
    ``corpus_dedup``: the read side of the system in one process."""

    name = "analyst_reads"
    round = len(VIEW_NAMES) + 1
    # 3 rounds: a sample spread over ~20 s of host noise, and 27 samples
    # make op_s_tail a percentile above the median (p62)
    min_ops = 20
    needs_history = True

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.views, self.dedup = AnalystViews(ctx), CorpusDedup(ctx)

    def _part(self, i: int) -> tuple[Workload, int]:
        r, k = divmod(i, self.round)
        if k == len(VIEW_NAMES):
            return self.dedup, r
        return self.views, r * len(VIEW_NAMES) + k

    def setup(self) -> None:
        self.views.setup()
        self.dedup.setup()
        self.input_bytes = self.views.input_bytes + self.dedup.input_bytes

    def warmup(self) -> None:
        # the JIT warm-up is mostly single-threaded planning and code
        # generation, so two rounds of the views and two dedup passes overlap
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(3) as pool:
            futures = [pool.submit(self.dedup.warmup)]
            futures += [pool.submit(self.views.op, i) for i in range(2 * len(VIEW_NAMES))]
            for f in futures:
                f.result()

    def op(self, i: int):
        w, j = self._part(i)
        return w.op(j)

    def check(self, i: int, out) -> bool:
        w, j = self._part(i)
        return w.check(j, out)

    def rows(self, i: int) -> int:
        w, j = self._part(i)
        return w.rows(j)

    def stored_bytes(self) -> int:
        return self.views.stored_bytes() + self.dedup.stored_bytes()

    def layers(self, i: int, out, root) -> dict:
        w, j = self._part(i)
        return w.layers(j, out, root)

    def evidence(self) -> dict:
        return {**self.views.evidence(), **self.dedup.evidence()}


WORKLOADS = {
    w.name: w
    for w in (DailyIncremental, AnalystReads, BulkBackfill, AnalystViews, CorpusDedup)
}
