"""Seeded input generator for the benchmark.

Everything here is pure Python (plus pyarrow for the parquet write), so
the same seed gives byte-identical inputs and the program under test
only ever receives the written parquet files.

Two kinds of input:

* ``raw_jobs`` batches. Values come from the FIXTURES.md §1 value
  matrix (titles with suffixes and Vietnamese keywords, odd-cased
  company names, the full free-text salary matrix, ``&`` and ``│``
  location forms, HTML location details, relative ``last_update``
  strings). Companies are Zipf/Pareto-skewed. A *daily* batch mixes new
  postings, unchanged re-crawls, re-crawls that change SCD2-tracked
  columns and rows crawled before the 7-day lookback, in the assumed
  shares of ``DAILY_SHARES``.
* a corpus of job-description texts with planted near-duplicate
  reposts. Base documents share no word 3-shingle with each other (the
  generator rejects colliding words), so the planted reposts are the
  only cross-document collisions and every pair count scales with the
  planted count.
"""

from __future__ import annotations

import datetime as dt
import random

TZ = dt.timezone(dt.timedelta(hours=7))  # Asia/Ho_Chi_Minh, no DST

# The reference documents only the volume: about 383 postings a day from
# 243+ companies (BASELINE.md). The shares below are assumed, not
# measured; they are chosen so that every path of the daily run (insert,
# SCD2 update, SCD2 no-change, out-of-lookback row) carries real work.
#
# share of a daily batch per row kind; "old" rows are new postings whose
# crawled_at falls before the 7-day lookback of the run
DAILY_SHARES = {"new": 0.45, "unchanged": 0.30, "changed": 0.15, "old": 0.10}
# share of a backfill batch crawled before the lookback
BACKFILL_OLD_SHARE = 0.10
# share of generated postings per location form
LOCATION_SHARES = {"single": 0.55, "multi": 0.20, "text_only": 0.15, "none": 0.10}
LOOKBACK = dt.timedelta(days=7)  # run_staging_to_dwh's default

TITLES = [
    "Senior Python Developer", "Frontend React Developer / Team Lead",
    "DevOps Engineer", "Data Engineer", "Kế toán tổng hợp", "Java Developer",
    "Nhân viên kinh doanh", "QA Tester", "Business Analyst", "Mobile Developer",
    "Chuyên viên tuyển dụng", "Backend Golang Engineer", "Product Owner",
]
TITLE_DECOR = [
    "{t}", "{t} - Urgent", "{t} (AWS)", "Tuyển dụng gấp {t}", "{t} - Thu nhập hấp dẫn",
    "{t} / Remote", "{t}",
]
COMPANY_FORMS = [
    "công ty tnhh {n}", "CÔNG TY CỔ PHẦN {n} VIỆT NAM", "{n} software",
    "Công ty TNHH {n}", "{n} group",
]
SALARIES = [
    "15-20 triệu", "1,000-2,000 USD", "Thoả thuận", "Tới 1,500 USD",
    "tới 25 triệu", "Từ 12 triệu", "800 USD", "30 triệu", "0.0 - 0.0 triệu",
    "", None, "10 - 15 triệu", "12.5 - 18 triệu",
]
SKILLS = [
    "Python", "Django", "SQL", "Spark", "React", "AWS", "Docker", "Java",
    "Kubernetes", "Excel", "Tiếng Anh", "Go", "Kafka", "Figma",
]
CITIES = {
    "Hà Nội": ["Cầu Giấy", "Đống Đa", "Hoàn Kiếm", "Thanh Xuân", "Hai Bà Trưng"],
    "Hồ Chí Minh": ["Quận 1", "Quận 3", "Bình Thạnh", "Tân Bình", "Thủ Đức"],
    "Đà Nẵng": ["Hải Châu", "Sơn Trà", "Thanh Khê"],
    "Cần Thơ": ["Ninh Kiều"],
    "Hải Phòng": ["Lê Chân", "Ngô Quyền"],
    "Bình Dương": ["Thủ Dầu Một", "Dĩ An"],
}
TEXT_ONLY_LOCATIONS = ["TP HCM", "Hà Nội │ Cầu Giấy, Đống Đa", "Huế", "hanoi"]
LAST_UPDATES = [
    "Cập nhật 2 phút trước", "Cập nhật 3 giờ trước", "1 ngày trước",
    "2 tuần trước", "1 tháng trước", "", None,
]
DEADLINES = ["30", "15", "7", "45"]


def _hist_crawl(rng: random.Random, run_ts: dt.datetime) -> dt.datetime:
    return run_ts - dt.timedelta(seconds=rng.randrange(0, 3 * 86400))


class JobMarket:
    """A seeded universe of companies and postings.

    ``history(n)`` draws the postings that build the warehouse before the
    timed runs; ``daily(n)`` then mixes fresh postings with re-crawls of
    history postings. Posting ids are unique across one market.
    """

    def __init__(self, seed: int, n_companies: int = 260):
        self.rng = random.Random(seed)
        self._next_id = 0
        self.companies = []
        for i in range(n_companies):
            name = self.rng.choice(COMPANY_FORMS).format(n=f"ACME{i:04d}")
            self.companies.append(
                (name, f"https://www.topcv.vn/company/acme-{i}", self.rng.random() < 0.4)
            )
        # Pareto-skewed posting counts per company (Zipf weights)
        weights = [1.0 / (i + 1) ** 1.1 for i in range(n_companies)]
        total = sum(weights)
        acc, self._cum = 0.0, []
        for w in weights:
            acc += w / total
            self._cum.append(acc)

    def reseed(self, seed: int) -> None:
        """Draw what follows from ``seed``; companies and ids carry on."""
        self.rng = random.Random(seed)

    def _location(self) -> tuple[str | None, str | None]:
        rng = self.rng
        kind = rng.choices(list(LOCATION_SHARES), list(LOCATION_SHARES.values()))[0]
        if kind == "none":
            return None, None
        if kind == "text_only":
            return rng.choice(TEXT_ONLY_LOCATIONS), None
        cities = rng.sample(sorted(CITIES), 2 if kind == "multi" else 1)
        parts = [f"{c}: {rng.choice(CITIES[c])}" for c in cities]
        return " & ".join(cities), "<div>" + "<br/>".join(parts) + "</div>"

    def posting(self, crawled_at: dt.datetime) -> tuple:
        """One new raw_jobs row, in ``RAW_JOBS`` column order."""
        rng = self.rng
        self._next_id += 1
        job_id = f"J{self._next_id:07d}"
        title = rng.choice(TITLE_DECOR).format(t=rng.choice(TITLES))
        company, company_url, verified = self.companies[
            min(self._bisect(rng.random()), len(self.companies) - 1)
        ]
        roll = rng.random()
        skills = None if roll < 0.05 else [] if roll < 0.1 else rng.sample(SKILLS, rng.randint(1, 4))
        location, detail = self._location()
        posted = crawled_at - dt.timedelta(days=rng.randint(0, 90), seconds=rng.randrange(86400))
        return (
            job_id, title, f"https://www.topcv.vn/job-detail/{job_id.lower()}.html",
            company, company_url, rng.choice(SALARIES), skills, location, detail,
            rng.choice(DEADLINES), verified, rng.choice(LAST_UPDATES),
            f"https://logo.topcv.vn/{job_id.lower()}.png", posted, crawled_at,
        )

    def _bisect(self, u: float) -> int:
        lo, hi = 0, len(self._cum)
        while lo < hi:
            mid = (lo + hi) // 2
            if self._cum[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return lo

    def history(self, n: int, run_ts: dt.datetime) -> list[tuple]:
        """``n`` postings crawled within the 3 days before ``run_ts``."""
        return [self.posting(_hist_crawl(self.rng, run_ts)) for _ in range(n)]

    def history_runs(
        self, n: int, days: int, n_day: int, run_ts: dt.datetime
    ) -> tuple[list[tuple[dt.datetime, list[tuple]]], list[tuple], int]:
        """A bulk load of ``n`` postings at ``run_ts``, then ``days`` daily
        batches of ``n_day`` rows, one day apart, so the warehouse holds
        SCD2 versions. Returns each run's ``(run_ts, rows)``, the latest
        crawl of every posting that reached the dimensions, and the number
        of distinct postings in raw_jobs."""
        runs = [(run_ts, self.history(n, run_ts))]
        current = {r[0]: r for r in runs[0][1]}
        raw_ids = set(current)
        for k in range(1, days + 1):
            ts = run_ts + dt.timedelta(days=k)
            rows, _ = self.daily(list(current.values()), n_day, ts)
            runs.append((ts, rows))
            raw_ids.update(r[0] for r in rows)
            # rows crawled before the lookback never reach the dimensions
            current.update((r[0], r) for r in rows if r[14] >= ts - LOOKBACK)
        return runs, list(current.values()), len(raw_ids)

    def daily(self, history: list[tuple], n: int, run_ts: dt.datetime) -> tuple[list[tuple], dict]:
        """A day's batch of ``n`` rows in ``DAILY_SHARES``; returns the
        rows (shuffled) and the exact count of each kind."""
        rng = self.rng
        counts = {k: int(round(n * s)) for k, s in DAILY_SHARES.items()}
        counts["new"] = n - sum(v for k, v in counts.items() if k != "new")
        recrawled = rng.sample(history, counts["unchanged"] + counts["changed"])

        def fresh_ts() -> dt.datetime:
            return run_ts - dt.timedelta(seconds=rng.randrange(0, 20 * 3600))

        rows = [self.posting(fresh_ts()) for _ in range(counts["new"])]
        rows += [
            self.posting(run_ts - dt.timedelta(days=rng.randint(8, 20), seconds=rng.randrange(86400)))
            for _ in range(counts["old"])
        ]
        for i, old in enumerate(recrawled):
            row = list(old)
            row[14] = fresh_ts()
            if i >= counts["unchanged"]:
                # change two SCD2-tracked dim_job columns
                row[6] = sorted(set(old[6] or []) | {"Scala"})
                row[11] = "Cập nhật 1 giờ trước" if old[11] != "Cập nhật 1 giờ trước" else "1 ngày trước"
            rows.append(tuple(row))
        rng.shuffle(rows)
        return rows, counts

    def backfill(self, n: int, run_ts: dt.datetime) -> tuple[list[tuple], dict]:
        """``n`` new postings; ``BACKFILL_OLD_SHARE`` of them crawled
        before the lookback."""
        rng = self.rng
        old = int(round(n * BACKFILL_OLD_SHARE))
        rows = [self.posting(_hist_crawl(rng, run_ts)) for _ in range(n - old)]
        rows += [
            self.posting(run_ts - dt.timedelta(days=rng.randint(8, 20), seconds=rng.randrange(86400)))
            for _ in range(old)
        ]
        rng.shuffle(rows)
        return rows, {"new": n - old, "old": old}


def raw_arrow_schema():
    import pyarrow as pa

    ts = pa.timestamp("us", tz="UTC")
    return pa.schema(
        [
            ("job_id", pa.string()), ("title", pa.string()), ("job_url", pa.string()),
            ("company_name", pa.string()), ("company_url", pa.string()),
            ("salary", pa.string()), ("skills", pa.list_(pa.string())),
            ("location", pa.string()), ("location_detail", pa.string()),
            ("deadline", pa.string()), ("verified_employer", pa.bool_()),
            ("last_update", pa.string()), ("logo_url", pa.string()),
            ("posted_time", ts), ("crawled_at", ts),
        ]
    )


def write_raw(rows: list[tuple], path: str) -> int:
    """Write raw_jobs rows (naive local timestamps) as one parquet file;
    returns its size in bytes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = raw_arrow_schema()
    cols = list(zip(*rows))
    arrays = []
    for field, col in zip(schema, cols):
        if pa.types.is_timestamp(field.type):
            col = [v.replace(tzinfo=TZ) if v is not None else None for v in col]
        arrays.append(pa.array(col, type=field.type))
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# dedup corpus
# ---------------------------------------------------------------------------
_SYLLABLES = [
    "an", "ba", "cong", "dat", "en", "phat", "giang", "hoa", "kinh", "lam",
    "minh", "nang", "quan", "ro", "sinh", "tri", "uy", "viet", "xuan", "yen",
    "dev", "ops", "data", "code", "team", "lead", "cloud", "api", "test", "web",
]


def corpus_vocab(size: int = 4000) -> list[str]:
    """Deterministic two/three-syllable vocabulary, independent of seed."""
    vocab, seen = [], set()
    for a in _SYLLABLES:
        for b in _SYLLABLES:
            for c in [""] + _SYLLABLES:
                w = a + b + c
                if w not in seen:
                    seen.add(w)
                    vocab.append(w)
                if len(vocab) == size:
                    return vocab
    return vocab


def dedup_corpus(
    seed: int,
    n_docs: int,
    dup_share: float = 0.2,
    edit_rate: float = 0.05,
    words: tuple[int, int] = (60, 100),
) -> tuple[list[tuple[str, str]], set[tuple[str, str]]]:
    """``n_docs`` (doc_id, text) rows; ``dup_share`` of them are reposts
    of a distinct base document with ``edit_rate`` of its words
    substituted, deleted or inserted. Returns the rows and the planted
    (doc_a, doc_b) pairs with doc_a < doc_b.

    Base documents never share a word 3-shingle: each word is redrawn
    until the shingle it closes is new to the corpus. Reposts reuse
    their base's words, and an inserted or substituted word is drawn the
    same way, so a repost collides only with its own base.
    """
    rng = random.Random(seed)
    vocab = corpus_vocab()
    used: set[tuple[str, str, str]] = set()

    def next_word(prev2: tuple[str, ...]) -> str:
        while True:
            w = rng.choice(vocab)
            if len(prev2) < 2 or (prev2[-2], prev2[-1], w) not in used:
                return w

    def claim(ws: list[str]) -> None:
        used.update(zip(ws, ws[1:], ws[2:]))

    n_dups = int(round(n_docs * dup_share))
    n_base = n_docs - n_dups
    bases: list[list[str]] = []
    for _ in range(n_base):
        ws: list[str] = []
        for _ in range(rng.randint(*words)):
            ws.append(next_word(tuple(ws[-2:])))
        claim(ws)
        bases.append(ws)

    docs = [(f"D{i:06d}", " ".join(ws)) for i, ws in enumerate(bases)]
    planted = set()
    for j, b in enumerate(rng.sample(range(n_base), n_dups)):
        out: list[str] = []
        for w in bases[b]:
            r = rng.random()
            if r < edit_rate / 3:  # delete
                continue
            if r < 2 * edit_rate / 3:  # substitute
                out.append(next_word(tuple(out[-2:])))
            elif r < edit_rate:  # insert after
                out.append(w)
                out.append(next_word(tuple(out[-2:])))
            else:
                out.append(w)
        # re-draw any word whose closing shingle would hit another doc
        fixed: list[str] = []
        own = set(zip(bases[b], bases[b][1:], bases[b][2:]))
        for w in out:
            if len(fixed) >= 2:
                sh = (fixed[-2], fixed[-1], w)
                while sh in used and sh not in own:
                    w = rng.choice(vocab)
                    sh = (fixed[-2], fixed[-1], w)
            fixed.append(w)
        claim(fixed)
        doc_id = f"D{n_base + j:06d}"
        docs.append((doc_id, " ".join(fixed)))
        planted.add((min(docs[b][0], doc_id), max(docs[b][0], doc_id)))
    return docs, planted


def write_corpus(docs: list[tuple[str, str]], path: str) -> int:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = zip(*docs)
    pq.write_table(pa.table({"doc_id": list(ids), "text": list(texts)}), path)
    return os.path.getsize(path)
