"""Tests of the benchmark's input generator (no Spark needed):

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from collections import defaultdict
from itertools import combinations

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

RUN = dt.datetime(2025, 6, 11, 18, 0, 0)
HIST = RUN - dt.timedelta(days=10)


def _day(seed: int, n_hist: int = 600, n_day: int = 200):
    market = gen.JobMarket(7)
    hist = market.history(n_hist, HIST)
    market.reseed(seed)
    rows, counts = market.daily(hist, n_day, RUN)
    return hist, rows, counts


def test_same_seed_same_inputs(tmp_path):
    a, b = _day(3), _day(3)
    assert a == b
    pa_, pb = tmp_path / "a.parquet", tmp_path / "b.parquet"
    gen.write_raw(a[1], str(pa_))
    gen.write_raw(b[1], str(pb))
    assert pa_.read_bytes() == pb.read_bytes()
    assert gen.dedup_corpus(5, 300) == gen.dedup_corpus(5, 300)
    assert _day(4)[1] != a[1]


def test_daily_shares_hold():
    hist, rows, counts = _day(11, n_day=400)
    assert counts == {"new": 180, "unchanged": 120, "changed": 60, "old": 40}
    by_id = {r[0]: r for r in hist}
    cutoff = RUN - dt.timedelta(days=7)
    seen = defaultdict(int)
    for r in rows:
        old = by_id.get(r[0])
        if old is None:
            seen["old" if r[14] < cutoff else "new"] += 1
        elif old[:14] == r[:14]:
            seen["unchanged"] += 1
            assert r[14] >= cutoff
        else:
            seen["changed"] += 1
            # only SCD2-tracked dim_job columns (skills, last_update) differ
            assert [i for i in range(14) if old[i] != r[i]] in ([6, 11], [6], [11])
    assert dict(seen) == counts
    assert len({r[0] for r in rows}) == len(rows)
    # history sits outside the daily run's lookback
    assert all(h[14] < cutoff for h in hist)


def test_location_forms_and_company_skew():
    market = gen.JobMarket(1)
    rows = market.history(4000, HIST)
    multi = sum(1 for r in rows if r[7] and " & " in r[7])
    none = sum(1 for r in rows if r[7] is None)
    assert 0.15 < multi / len(rows) < 0.25
    assert 0.07 < none / len(rows) < 0.13
    per_company = defaultdict(int)
    for r in rows:
        per_company[r[3]] += 1
    top = sorted(per_company.values(), reverse=True)
    # Pareto skew: the top 10% of companies post well over a third
    assert sum(top[: len(top) // 10]) > len(rows) / 3


def _shingles(text: str) -> set[tuple[str, str, str]]:
    w = text.split()
    return set(zip(w, w[1:], w[2:]))


def test_planted_pairs_are_the_only_collisions():
    docs, planted = gen.dedup_corpus(9, 500, dup_share=0.2, edit_rate=0.05)
    assert len(docs) == 500 and len(planted) == 100
    owners = defaultdict(set)
    for doc_id, text in docs:
        for sh in _shingles(text):
            owners[sh].add(doc_id)
    colliding = {
        pair for ids in owners.values() if len(ids) > 1 for pair in combinations(sorted(ids), 2)
    }
    assert colliding == planted
    # every planted repost stays a near-duplicate of its base
    text = dict(docs)
    for a, b in planted:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        assert len(sa & sb) / len(sa | sb) > 0.4


def test_pair_count_scales_with_planted_count():
    for n in (200, 400):
        for share in (0.1, 0.3):
            _, planted = gen.dedup_corpus(2, n, dup_share=share)
            assert len(planted) == round(n * share)


def test_history_runs_build_scd2_versions():
    runs, current, raw_rows = gen.JobMarket(7).history_runs(600, 3, 200, HIST)
    assert (runs, current, raw_rows) == gen.JobMarket(7).history_runs(600, 3, 200, HIST)
    assert [ts for ts, _ in runs] == [HIST + dt.timedelta(days=k) for k in range(4)]
    assert [len(rows) for _, rows in runs] == [600, 200, 200, 200]
    assert raw_rows == len({r[0] for _, rows in runs for r in rows})
    first, dims, changed = {}, set(), 0
    for ts, rows in runs:
        for r in rows:
            if r[0] in first:
                # re-crawls are drawn only from postings in the dimensions
                assert r[0] in dims
                changed += first[r[0]][:14] != r[:14]
            first.setdefault(r[0], r)
        dims.update(r[0] for r in rows if r[14] >= ts - gen.LOOKBACK)
    assert {r[0] for r in current} == dims
    # the history days change tracked columns, so dim_job holds versions
    assert changed >= 3 * round(200 * gen.DAILY_SHARES["changed"]) * 0.9
