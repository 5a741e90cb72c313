"""Property-based tests (hypothesis): the parsers never crash on
arbitrary input and their structural invariants hold; SCD2 invariants
hold under random batch sequences.

Spark round-trips per example are too slow for hypothesis, so parser
properties run the pure-Python cores / batched Spark calls over
generated corpora.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings, strategies as st

from jobinsight_data_pipeline_spark.functions.location import (
    parse_job_location,
    parse_single_location_item,
)
from jobinsight_data_pipeline_spark.functions.text import clean_company_name_py

text_strategy = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
    max_size=80,
)


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_clean_company_name_total(s):
    out = clean_company_name_py(s)
    assert isinstance(out, str)
    assert "  " not in out  # whitespace collapsed
    assert out == out.strip()


@given(st.one_of(st.none(), text_strategy))
@settings(max_examples=300, deadline=None)
def test_parse_job_location_total(s):
    out = parse_job_location(s)
    assert isinstance(out, list) and len(out) >= 1
    for item in out:
        assert isinstance(item, tuple) and len(item) == 3
    # empty-ish input contracts to the Unknown sentinel
    if not isinstance(s, str) or not s.strip():
        assert out == [(None, "Unknown", None)]


@given(text_strategy.filter(lambda s: s.strip()))
@settings(max_examples=300, deadline=None)
def test_parse_single_location_item_shapes(s):
    out = parse_single_location_item(s)
    for prov, city, dist in out:
        # city is never empty-string (the parser trims segments)
        if city is not None:
            assert city == city.strip()


SALARY_INPUTS = st.one_of(
    st.none(),
    st.text(max_size=40),
    st.builds(
        lambda a, b, unit, sep: f"{a}{sep}{b} {unit}",
        st.integers(0, 5000),
        st.integers(0, 5000),
        st.sampled_from(["triệu", "USD", "usd", "TRIỆU"]),
        st.sampled_from([" - ", "-", " – ", " "]),
    ),
)


def test_salary_parser_invariants(spark):
    """Batched property check: for ANY input, outputs are non-null,
    salary_min <= salary_max OR the reference's coalesce rules explain
    the inversion, and type is one of the four labels."""
    import random

    from jobinsight_data_pipeline_spark.functions.salary import with_salary_columns

    rng = random.Random(7)
    corpus = []
    for _ in range(400):
        kind = rng.randrange(5)
        if kind == 0:
            corpus.append(None)
        elif kind == 1:
            corpus.append("".join(chr(rng.randrange(32, 1000)) for _ in range(rng.randrange(0, 30))))
        else:
            a, b = rng.randrange(0, 3000), rng.randrange(0, 3000)
            unit = rng.choice(["triệu", "USD", "usd"])
            sep = rng.choice([" - ", "-", " "])
            prefix = rng.choice(["", "Tới ", "Từ ", "tới "])
            corpus.append(f"{prefix}{a}{sep}{b} {unit}")
    df = spark.createDataFrame([(s,) for s in corpus], "salary string")
    rows = with_salary_columns(df).collect()
    assert len(rows) == len(corpus)
    for r in rows:
        assert r["salary_type"] in {"negotiable", "range", "upto", "from"}
        assert r["salary_min"] is not None and r["salary_max"] is not None
        assert r["salary_min"] >= 0.0
        # post-condition: max==0 was coalesced to min, so max<min can only
        # happen via a genuine inverted range in the input (reference
        # behavior preserves it, e.g. '20 - 10 triệu')
        if r["salary_max"] < r["salary_min"]:
            assert r["salary_type"] == "range"


def test_scd2_random_batches(spark):
    """Random two-batch evolution: at most one current row per key, no
    overlapping version ranges, closed rows precede current ones."""
    import random

    from jobinsight_data_pipeline_spark.operators.scd2 import Scd2Config, scd2_merge
    from jobinsight_data_pipeline_spark.plans.validation import (
        duplicate_current_keys,
        scd2_overlaps,
    )

    rng = random.Random(11)
    cfg = Scd2Config(sk_col="sk", natural_keys=["k"], tracked_cols=["v"])
    keys = [f"k{i}" for i in range(20)]

    def batch():
        rows = []
        for k in rng.sample(keys, rng.randrange(1, 15)):
            rows.append((k, rng.choice(["a", "b", "c"])))
        return spark.createDataFrame(rows, "k string, v string")

    d1 = dt.date(2025, 6, 1)
    d2 = dt.date(2025, 6, 2)
    dim = scd2_merge(None, batch(), cfg, d1).dim
    dim = scd2_merge(dim, batch(), cfg, d2).dim
    assert duplicate_current_keys(dim, ["k"]) == 0
    assert scd2_overlaps(dim, ["k"]) == 0
    rows = dim.collect()
    for r in rows:
        if not r["is_current"]:
            assert r["expiry_date"] is not None


@pytest.mark.parametrize(
    "shape, bucketed",
    [("below_sample", False), ("above_sample", True), ("constant_leading", True)],
)
def test_surrogate_keys_match_sorted_expectation(spark, shape, bucketed):
    """Keys equal a Python sort of (nk, u) — nulls last, dense from 10000
    — whichever plan the probe picks: below the probe's sample size (the
    delta plan), above it (the bucketed plan, null leading keys land in
    the last bucket), and a constant leading key (every split point
    degenerates to one value: one dense bucket + the NULLs bucket)."""
    from jobinsight_data_pipeline_spark.operators.merge import (
        _SAMPLE_PER_PART,
        assign_surrogate_keys,
    )
    from pyspark.sql import functions as F

    k = _SAMPLE_PER_PART * spark.sparkContext.defaultParallelism
    n = k // 2 if shape == "below_sample" else 3 * k
    nk = (
        F.lit("same")
        if shape == "constant_leading"
        else F.format_string("k%07d", (F.col("id") * 7919) % n)
    )
    # (nk, u) is unique — the documented contract for reproducible keys
    df = spark.range(n).select(
        F.when(F.col("id") % 97 != 0, nk).alias("nk"), F.col("id").alias("u")
    )
    out = assign_surrogate_keys(df, "sk", 9999, ["nk", "u"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert ("_pid" in plan) == bucketed
    got = {(r["nk"], r["u"]): r["sk"] for r in out.collect()}
    order = sorted(got, key=lambda t: (t[0] is None, t[0] or "", t[1]))
    assert got == {t: 10_000 + i for i, t in enumerate(order)}


def test_connected_components_random_graphs_match_union_find(spark):
    """Distributed large-star/small-star CC vs a sequential union-find
    on seeded random graphs — including shapes that stress the star
    steps (long paths, stars, cliques, isolated pairs)."""
    import random

    from jobinsight_data_pipeline_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(10, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(5, 2 * n))
        ]
        edges += [(i, i + 1) for i in range(trial * 7, trial * 7 + 5)]  # a path

        parent = list(range(n + 40))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a != b:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)

        expected = {
            v: find(v)
            for e in edges
            for v in e
            if e[0] != e[1]
        }
        # canonical root = min of component
        roots = {}
        for v, r in expected.items():
            roots.setdefault(find(r), []).append(v)
        want = {v: min(vs) for r, vs in roots.items() for v in vs}

        df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, "doc_a", "doc_b").collect()
        }
        assert got == want, f"trial {trial}"


def test_pack_sequences_matches_sequential_cumsum(spark):
    import random

    from jobinsight_data_pipeline_spark.operators.packing import pack_sequences

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 3000)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id: long, n_tokens: int")

    run = 0
    want = {}
    for i, tok in rows:
        want[i] = (run, run // 1024)
        run += tok

    for kwargs in ({"bounds": []}, {"bounds": [50, 120, 170]}):
        got = {
            r["doc_id"]: (r["start_offset"], r["pack_id"])
            for r in pack_sequences(df, "n_tokens", 1024, ["doc_id"], **kwargs).collect()
        }
        assert got == want, kwargs


@given(st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_parse_job_cards_total_on_arbitrary_text(s):
    """The tree parser is total: arbitrary text (including unbalanced
    markup) never raises and always yields a list of complete rows."""
    from jobinsight_data_pipeline_spark.sources.html import parse_job_cards

    out = parse_job_cards(s, dt.datetime(2025, 7, 1))
    assert isinstance(out, list)
    for row in out:
        assert row["job_id"] and row["title"]


@given(st.data())
@settings(max_examples=150, deadline=None)
def test_parse_job_cards_survives_mutated_cards(data):
    """Deleting arbitrary character spans from a valid page must never
    raise — and whenever both the id and title survive mutation, the
    extracted row is well-formed."""
    from jobinsight_data_pipeline_spark.sources.html import parse_job_cards

    page = (
        '<div class="job-item-2" data-job-id="42">'
        '<h3 class="title"><a href="/x-42.html">'
        '<span data-original-title="Dev">D</span></a></h3>'
        '<a class="company" href="/c">Co</a>'
        '<label class="address" data-original-title="HN<br>HCM">HN</label>'
        '<label class="title-salary">10 triệu</label>'
        '<div class="skills"><label class="item">Java</label></div>'
        '<label class="time"><strong>9</strong> ngày</label>'
        "</div>"
    )
    i = data.draw(st.integers(0, len(page) - 1))
    j = data.draw(st.integers(i, min(len(page), i + 40)))
    mutated = page[:i] + page[j:]
    out = parse_job_cards(mutated, dt.datetime(2025, 7, 1))
    assert isinstance(out, list)
    for row in out:
        assert row["job_id"] and row["title"]


def test_duplicate_spans_matches_sequential_reference(spark):
    """Distributed windowed-shingle span detection vs a brute-force
    sequential reference on seeded random corpora with planted repeats:
    identical (doc, start, end, n_windows) sets, for several n."""
    import random

    from jobinsight_data_pipeline_spark.operators.dedup import duplicate_spans

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab → organic repeats
    for trial, n in [(0, 3), (1, 4), (2, 5)]:
        docs = []
        for d in range(25):
            toks = [rng.choice(vocab) for _ in range(rng.randint(1, 40))]
            docs.append((d, " ".join(toks)))

        # sequential reference: count every n-window, flag count>1,
        # merge overlapping/adjacent windows per doc
        from collections import Counter

        win = {}
        counts = Counter()
        for d, text in docs:
            toks = text.split()
            ws = [
                (p, " ".join(toks[p : p + n]))
                for p in range(len(toks) - n + 1)
            ]
            win[d] = ws
            counts.update(w for _, w in ws)
        want = set()
        for d, ws in win.items():
            flagged = sorted(p for p, w in ws if counts[w] > 1)
            span = None
            for p in flagged:
                if span and p <= span[1]:
                    span = (span[0], p + n, span[2] + 1)
                else:
                    if span:
                        want.add((d, *span))
                    span = (p, p + n, 1)
            if span:
                want.add((d, *span))

        df = spark.createDataFrame(docs, "doc_id: long, text: string")
        got = {
            (r["doc"], r["span_start"], r["span_end"], r["n_windows"])
            for r in duplicate_spans(df, "doc_id", "text", n=n).collect()
        }
        assert got == want, f"trial {trial} n={n}"


def test_mixture_sample_expected_multiplicity_converges(spark):
    """Over a large keyspace the realized per-group multiplicity must
    converge to the target weight (the md5 bucket is uniform), for
    weights below, at, and above 1."""
    from jobinsight_data_pipeline_spark.operators.sampling import mixture_sample

    rows = [(i, ["lo", "one", "hi"][i % 3]) for i in range(9000)]
    df = spark.createDataFrame(rows, "k: long, g: string")
    out = (
        mixture_sample(df, "g", {"lo": 0.25, "one": 1.0, "hi": 3.75}, "k")
        .groupBy("g")
        .count()
        .collect()
    )
    got = {r["g"]: r["count"] / 3000 for r in out}
    assert abs(got.get("lo", 0) - 0.25) < 0.05
    assert got["one"] == 1.0
    assert abs(got["hi"] - 3.75) < 0.05


def test_new_text_operators_total_on_fuzzed_corpus(spark):
    """Totality over one batched Spark call on adversarial text (unicode
    soup, regex metacharacters, digits near PII shapes, NULL, empty):
    no exception, NULL propagates (NULL text → NULL counts/redaction,
    no spans), and every emitted span sits inside the doc's token range."""
    import random

    from jobinsight_data_pipeline_spark.operators.dedup import duplicate_spans
    from jobinsight_data_pipeline_spark.operators.textstats import redact_pii

    rng = random.Random(23)
    pieces = [
        "a@b", "@", "...", "1.2.3.4.5", "000-00-0000x", "(((", "\\b", "$1",
        "ó", "漢字", "\t", "\n\n", "5" * 40, ".", "-", "e+1", "héllo@wörld.com",
        "192.168.0.1", "123-45-6789", "555-123-4567",
    ]
    rows = [(0, None), (1, ""), (2, " \n ")]
    for i in range(3, 120):
        rows.append((i, " ".join(rng.choice(pieces) for _ in range(rng.randint(0, 30)))))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    red = redact_pii(df, "text").collect()  # must not throw (ANSI mode)
    by_id = {r["doc_id"]: r for r in red}
    assert by_id[0]["redacted"] is None and by_id[0]["n_email"] is None
    assert by_id[1]["redacted"] == "" and by_id[1]["n_email"] == 0
    for r in red:
        if r["text"] is not None:
            assert r["redacted"] is not None
            assert min(r["n_email"], r["n_ssn"], r["n_phone"], r["n_ip"]) >= 0

    n = 3
    # mirror the engine's tokenization exactly: Spark (and DuckDB) trim
    # strips SPACES only, so text leading with \t/\n keeps an empty
    # leading token after the \s+ split — python's .split() does not
    import re

    toklen = {
        i: len(re.split(r"\s+", t.strip(" "))) for i, t in rows if t is not None
    }
    for r in duplicate_spans(df, "doc_id", "text", n=n).collect():
        assert r["doc"] >= 2  # NULL/empty docs emit nothing
        assert 0 <= r["span_start"] < r["span_end"] <= toklen[r["doc"]]
        assert r["n_windows"] >= 1

    from jobinsight_data_pipeline_spark.operators.dedup import remove_spans

    cleaned = {r["doc_id"]: r for r in remove_spans(df, n=n).collect()}
    assert cleaned[0]["cleaned"] is None and cleaned[0]["n_tokens"] is None
    for i, t in rows:
        if t is not None:
            r = cleaned[i]
            assert 0 <= r["n_removed"] <= r["n_tokens"]
            if r["cleaned"]:
                # cleaned is single-space-joined, so split(" ") recovers
                # the kept tokens exactly (including empty ones); "" is
                # ambiguous (nothing kept vs one empty token) so skipped
                assert len(r["cleaned"].split(" ")) == r["n_tokens"] - r["n_removed"]


def test_connected_components_adversarial_scale(spark):
    """Adversarial topologies at 10⁵ nodes: (a) one giant chain — the
    diameter-n worst case where naive label propagation needs 10⁵
    rounds; (b) a power-law hub graph with a super-node. Pins the
    Kiveris large/small-star properties: convergence in O(log n) rounds
    (≤ 20 here vs diameter 10⁵), intermediate edge counts bounded by
    O(nodes) (never quadratic blowup), and exact labels."""
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.components import (
        connected_components,
    )

    n = 100_000
    # (a) chain 0-1-2-…-(n-1)
    chain = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    stats: dict = {}
    labels = connected_components(chain, "doc_a", "doc_b", stats=stats)
    agg = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("ncomp"),
        F.max("component").alias("maxc"),
    ).first()
    assert (agg["n"], agg["ncomp"], agg["maxc"]) == (n, 1, 0)
    assert stats["rounds"] <= 20, stats  # O(log n), not O(diameter)
    assert max(stats["edge_counts"]) <= 2 * n, stats  # linear in nodes

    # (b) power-law: hub 0 wired to 1..50k, plus chains hanging off
    # nodes 1..10 (hub skew + depth), and 1000 isolated 2-cliques
    hub = spark.range(1, 50_001).selectExpr("0 AS doc_a", "id AS doc_b")
    tails = spark.range(10_000).selectExpr(
        "50001 + id AS doc_a", "50001 + id + 1 AS doc_b"
    )
    bridge = spark.sql("SELECT 1 AS doc_a, 50001 AS doc_b")
    cliq = spark.range(1_000).selectExpr(
        "100000 + 2*id AS doc_a", "100000 + 2*id + 1 AS doc_b"
    )
    pl = hub.unionByName(tails).unionByName(bridge).unionByName(cliq)
    stats2: dict = {}
    labels2 = connected_components(pl, "doc_a", "doc_b", stats=stats2)
    comp_sizes = {
        r["component"]: r["sz"]
        for r in labels2.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .collect()
    }
    # giant component: hub 0 + 1..50k + the 10k tail chain = 60,002 nodes
    assert comp_sizes[0] == 60_002
    assert sum(1 for s in comp_sizes.values() if s == 2) == 1_000
    assert stats2["rounds"] <= 20, stats2
    assert max(stats2["edge_counts"]) <= 2 * 62_002, stats2


def test_bm25_idf_quantization_cross_engine_audit(spark):
    """The bm25_search gate's exactness rests on round(ln(x), 6) being
    identical in Spark and DuckDB for the idf arguments this corpus can
    produce. ln is NOT correctly rounded in either engine (measured
    1-ulp disagreements), so audit the composite: for every (N, df) the
    gate can see at each test scale factor, Spark's round(ln, 6) must
    equal DuckDB's bit-for-bit, and the unquantized ln must sit clear of
    the rounding boundary (the corpus_curation .XX5 lesson).

    Audited over BOTH corpus variants the shared oracle serves: the
    full corpus (bm25_search / bm25_index_search) AND the
    tombstone-filtered corpus forget_bm25 rebuilds against (doc_id %
    FORGET_MOD <> FORGET_RESIDUE produces a different (N, df) argument
    set — a testdata refresh could flip only the filtered hashes)."""
    import math

    import duckdb

    from jobinsight_data_pipeline_spark.catalog.textml import (
        BM25_K,
        BM25_TERMS,
        FORGET_MOD,
        FORGET_RESIDUE,
    )

    con = duckdb.connect()
    cases = []
    variants = {
        "full": "",
        "forget": f"WHERE doc_id % {FORGET_MOD} <> {FORGET_RESIDUE}",
    }
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con.execute(
            "CREATE OR REPLACE VIEW documents AS "
            f"SELECT * FROM '/root/testdata/{sf}/documents.parquet'"
        )
        for vname, where in variants.items():
            n, = con.execute(
                f"SELECT count(*) FROM documents {where}"
            ).fetchone()
            for t in BM25_TERMS:
                has_t = (
                    "len(list_filter("
                    "regexp_split_to_array(trim(text), '\\s+'), "
                    f"x -> x = '{t}')) > 0"
                )
                glue = "AND" if where else "WHERE"
                dfreq, = con.execute(
                    f"SELECT count(*) FROM documents {where} {glue} {has_t}"
                ).fetchone()
                cases.append((float(n), float(dfreq)))
            # shared-oracle guard: the indexed/rebuilt paths only rank
            # docs with >=1 query-term posting — if fewer than BM25_K
            # docs match ANY term, the scan oracle's top-k would include
            # zero-score docs those paths cannot return and the gate
            # would fail on row count (silently corpus-dependent today)
            any_match = " OR ".join(
                "len(list_filter(regexp_split_to_array(trim(text), "
                f"'\\s+'), x -> x = '{t}')) > 0"
                for t in BM25_TERMS
            )
            glue = "AND" if where else "WHERE"
            matched, = con.execute(
                f"SELECT count(*) FROM documents {where} {glue} "
                f"({any_match})"
            ).fetchone()
            assert matched >= BM25_K, (
                f"{sf}/{vname}: only {matched} docs match any of "
                f"{BM25_TERMS} — < BM25_K={BM25_K}; the shared-oracle "
                "assumption breaks at this scale factor"
            )

    args = [(n - d + 0.5) / (d + 0.5) + 1.0 for n, d in cases]
    spark_q = [
        r[0]
        for r in spark.createDataFrame([(a,) for a in args], "x: double")
        .selectExpr("round(ln(x), 6)")
        .collect()
    ]
    duck_q = [con.execute("SELECT round(ln(?), 6)", [a]).fetchone()[0] for a in args]
    assert spark_q == duck_q, list(zip(cases, spark_q, duck_q))
    for a in args:
        frac = (math.log(a) * 1e6) % 1.0
        assert abs(frac - 0.5) > 1e-9, (a, frac)


def test_bigram_lm_floor_boundary_audit(spark):
    """bigram_lm's exactness rests on floor(ln(P)·10⁶) agreeing across
    engines. ln wobbles by 1 ulp between Spark and DuckDB, so audit
    EVERY distinct interpolated probability the sf0.01 corpus produces:
    the two engines' quantized integers must be identical, and ln·10⁶
    must sit clear of integer floor boundaries."""
    import math

    import duckdb

    from jobinsight_data_pipeline_spark.catalog.textml import O_BIGRAM_LM

    con = duckdb.connect()
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        "SELECT * FROM '/root/testdata/sf0.01/documents.parquet'"
    )
    # lift the distinct probabilities out of the oracle's own CTE chain
    prob_sql = O_BIGRAM_LM.split("scored_bigram AS (")[0] + """probs AS (
    SELECT DISTINCT 0.75 * (CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE))
           + 0.25 * ((cu + 1) / CAST(tot + v + 1 AS DOUBLE)) AS prob
    FROM bcnt JOIN pcnt USING (p) JOIN uni USING (w) CROSS JOIN totals
)
SELECT prob FROM probs"""
    probs = [r[0] for r in con.execute(prob_sql).fetchall()]
    assert len(probs) > 100  # the corpus genuinely exercises the model

    duck_q = [
        r[0]
        for r in con.execute(
            "SELECT CAST(floor(ln(prob) * 1000000.0) AS BIGINT) "
            f"FROM ({prob_sql}) ORDER BY prob"
        ).fetchall()
    ]
    probs.sort()
    spark_q = [
        r[0]
        for r in spark.createDataFrame([(p,) for p in probs], "prob: double")
        .selectExpr("floor(ln(prob) * 1000000.0) AS q", "prob")
        .orderBy("prob")
        .select("q")
        .collect()
    ]
    assert spark_q == duck_q
    for p in probs:
        frac = (math.log(p) * 1e6) % 1.0
        assert min(frac, 1.0 - frac) > 1e-7, (p, frac)


def test_unigram_ln_floor_boundary_audit(spark):
    """The unigram gates' exactness rests on floor(ln(x)·10⁶) agreeing
    across engines for every (count, total) the trainer quantizes. ln
    wobbles by 1 ulp between Spark and DuckDB, so audit the ACTUAL
    argument set the sf0.01 corpus produces at the gate's own
    hyperparameters — every EM round's counts and totals (via the
    trainer's audit hook) plus the pruned model the encode gate scores
    with: the two engines' quantized integers must be identical, and
    ln·10⁶ must sit clear of integer floor boundaries."""
    import math

    import duckdb

    from jobinsight_data_pipeline_spark.catalog.textml import (
        UNIGRAM_PMAX,
        UNIGRAM_ROUNDS,
        UNIGRAM_SEED_K,
        UNIGRAM_VOCAB_K,
    )
    from jobinsight_data_pipeline_spark.operators.unigram import (
        unigram_train,
        words_with_freq,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    audit: list[int] = []
    for corpus in (docs, docs.filter("doc_id < 250")):
        # full-corpus training (unigram_tok_* gates) AND day-1 training
        # (the stream_unigram_encode gate's frozen artifact)
        model = unigram_train(
            spark,
            words_with_freq(corpus),
            rounds=UNIGRAM_ROUNDS,
            seed_k=UNIGRAM_SEED_K,
            vocab_k=UNIGRAM_VOCAB_K,
            pmax=UNIGRAM_PMAX,
            audit=audit,
        )
        # the encode oracles quantize the PRUNED model's counts + total
        audit += [c for _, c, _ in model]
        audit += [sum(c for _, c, _ in model), 1]
    vals = sorted(set(audit))
    assert len(vals) > 50  # the corpus genuinely exercises the model

    con = duckdb.connect()
    duck_q = [
        con.execute(
            "SELECT CAST(floor(ln(CAST(? AS DOUBLE)) * 1000000.0) "
            "AS BIGINT)",
            [v],
        ).fetchone()[0]
        for v in vals
    ]
    spark_q = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in vals], "v: long")
        .selectExpr(
            "CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS q",
            "v",
        )
        .orderBy("v")
        .select("q")
        .collect()
    ]
    assert spark_q == duck_q
    for v in vals:
        if v == 1:
            continue  # ln(1) = 0.0 exactly in IEEE — boundary-safe
        frac = (math.log(v) * 1e6) % 1.0
        assert min(frac, 1.0 - frac) > 1e-7, (v, frac)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_normalize_text_idempotent_and_clean(s):
    """normalize(normalize(x)) == normalize(x), and the output never
    contains CR, NBSP, zero-width, or stripped-control characters."""
    from jobinsight_data_pipeline_spark.operators.textstats import (
        _CONTROLS,
        _ZERO_WIDTH,
        normalize_text_py,
    )

    out = normalize_text_py(s)
    assert normalize_text_py(out) == out
    banned = set("\r\xa0") | set(_ZERO_WIDTH) | set(_CONTROLS)
    assert not (set(out) & banned), repr(out)


def _priority_queue_bpe(word: str, ranked: dict) -> list:
    """The CLASSIC BPE encode loop (GPT-2 / Sennrich): repeatedly find
    the lowest-rank pair present anywhere in the word and merge ALL its
    occurrences left-to-right, until no table pair remains. Independent
    of the engine's rank-sequential sweep — the equivalence witness."""
    syms = list(word)
    while True:
        best = None
        for i in range(len(syms) - 1):
            r = ranked.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            return syms
        a, b = next(p for p, r in ranked.items() if r == best)
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out


@st.composite
def _wellformed_merges(draw):
    """Random well-formed merge tables over a small alphabet: each
    constituent is a base char or an earlier output; unique outputs."""
    alphabet = list("abcd")
    known, merges, outputs = list(alphabet), [], set()
    n = draw(st.integers(min_value=1, max_value=10))
    for _ in range(n):
        a = draw(st.sampled_from(known))
        b = draw(st.sampled_from(known))
        if a + b in outputs:
            continue
        merges.append((a, b))
        outputs.add(a + b)
        known.append(a + b)
    return merges


@given(
    _wellformed_merges(),
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=12),
        min_size=1,
        max_size=5,
    ),
)
@settings(max_examples=300, deadline=None)
def test_bpe_rank_sequential_equals_priority_queue(merges, words):
    """The equivalence the encoder's docstring claims, fuzzed: for ANY
    well-formed merges table (constituents are base symbols or earlier
    outputs — the invariant trained tables have), the engine's
    rank-sequential sweep produces the SAME segmentation as the classic
    lowest-rank-first priority loop, on adversarial repetitive words."""
    from jobinsight_data_pipeline_spark.operators.bpe import (
        bpe_encode_py,
        bpe_vocab,
        validate_merges,
    )

    validate_merges(merges)
    vocab = bpe_vocab(merges)
    ranked = {p: r for r, p in enumerate(merges)}
    text = " ".join(words)
    got = bpe_encode_py(text, merges)
    expect = []
    for w in words:
        expect.extend(vocab.get(s, -1) for s in _priority_queue_bpe(w, ranked))
    assert got == expect, (merges, words, got, expect)


@given(st.one_of(st.none(), text_strategy))
@settings(max_examples=200, deadline=None)
def test_bpe_encode_total_and_lossless_over_known_symbols(s):
    """bpe_encode_py is total on arbitrary (incl. non-ASCII) text under
    the byte-fallback contract: every id is in [0, byte_fallback_base +
    256), -1 is never emitted, and decode reproduces the input with
    delimiters and ASCII whitespace removed — out-of-vocabulary chars
    (including Unicode whitespace like \\u00a0, which the engine's
    ASCII-\\s split treats as an ordinary character) survive the
    round-trip via UTF-8 byte runs."""
    import re

    from jobinsight_data_pipeline_spark.operators.bpe import (
        _CLOSE,
        _OPEN,
        bpe_decode_py,
        bpe_encode_py,
        byte_fallback_base,
    )

    hi = byte_fallback_base() + 256
    ids = bpe_encode_py(s)
    assert all(0 <= i < hi for i in ids)
    assert -1 not in ids
    if s is None:
        assert ids == []
        return
    expect = re.sub(
        r"[ \t\n\x0b\f\r]+",
        "",
        s.replace(_OPEN, "").replace(_CLOSE, ""),
    )
    assert bpe_decode_py(ids) == expect


def test_quantile_bins_fuzz_equals_ntile(spark):
    """Seeded-random equivalence sweep: quantile_bins (histogram-CDF +
    bucket windows) must reproduce row_number/ntile over (score, id)
    bit-for-bit across duplicate-heavy, negative, constant, and sparse
    score distributions and across bucket resolutions."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.sampling import (
        quantile_bins,
    )

    rng = random.Random(99)
    w = Window.orderBy(F.col("score").asc(), F.col("doc_id").asc())
    for trial, (n, lo, hi, n_bins, hb) in enumerate(
        [
            (211, -1000, 1000, 10, 1024),
            (97, -3, 3, 7, 2),       # massive ties, 2 coarse buckets
            (64, 5, 5, 4, 16),       # single constant score
            (130, -10**9, 10**9, 13, 64),  # sparse huge range
        ]
    ):
        rows = [(i, rng.randint(lo, hi)) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, score long")
        got = {
            r.doc_id: (r.rank, r.bin)
            for r in quantile_bins(
                df, "score", ["doc_id"], n_bins=n_bins, hist_buckets=hb
            ).collect()
        }
        exp = {
            r.doc_id: (r.rank, r.bin)
            for r in df.withColumn(
                "rank", F.row_number().over(w).cast("long")
            ).withColumn("bin", F.ntile(n_bins).over(w)).collect()
        }
        assert got == exp, f"trial {trial} diverged"


def test_interval_join_fuzz_equals_between(spark):
    """Seeded-random equivalence sweep: the banded interval join must
    produce exactly the BETWEEN theta-join's match set — negative
    coordinates, zero-length intervals, band-boundary-straddling spans,
    and duplicate endpoints included — at several band widths."""
    import random

    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.asof import interval_join

    rng = random.Random(7)
    iv_rows = []
    for i in range(120):
        s = rng.randint(-200, 200)
        iv_rows.append((i, s, s + rng.randint(0, 60)))
    pt_rows = [(j, rng.randint(-220, 220)) for j in range(300)]
    iv = spark.createDataFrame(iv_rows, "iv_id long, s long, e long")
    pts = spark.createDataFrame(pt_rows, "p_id long, p long")
    expected = sorted(
        (r.iv_id, r.p_id)
        for r in iv.crossJoin(pts)
        .filter((F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e")))
        .collect()
    )
    for bw in (1, 7, 64, 1024):
        got = sorted(
            (r.iv_id, r.p_id)
            for r in interval_join(pts, iv, "p", "s", "e", bw).collect()
        )
        assert got == expected, f"band_width {bw} diverged"


def test_kpp_draw_ln_quantization_cross_engine_audit(spark):
    """kmeans_pp_seeds' A-ES draw rests on floor(ln(u)·10⁶) agreeing
    across engines for every md5('kppd:' || vec_id) uniform the frozen
    embeddings tables can produce (the weighted_draw audit's discipline,
    different salt and id domain). Quantized integers identical across
    engines; ln·10⁶ clear of floor boundaries."""
    import math

    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        hvs = [
            r[0]
            for r in con.execute(
                "SELECT CAST(('0x' || substring(md5('kppd:' || "
                "CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) "
                f"FROM '/root/testdata/{sf}/embeddings.parquet'"
            ).fetchall()
        ]
        us = [(h + 1) / 4294967296.0 for h in hvs]
        spark_q = [
            r[0]
            for r in spark.createDataFrame([(u,) for u in us], "u: double")
            .selectExpr("CAST(floor(ln(u) * 1000000.0) AS LONG)")
            .collect()
        ]
        duck_q = [
            con.execute(
                "SELECT CAST(floor(ln(?) * 1000000.0) AS BIGINT)", [u]
            ).fetchone()[0]
            for u in us
        ]
        assert spark_q == duck_q, sf
        for u in us:
            frac = (math.log(u) * 1e6) % 1.0
            assert min(frac, 1.0 - frac) > 1e-8, (sf, u, frac)


def test_weighted_draw_ln_quantization_cross_engine_audit(spark):
    """weighted_draw's exactness rests on floor(ln(u)·10⁶) agreeing
    across engines for every md5-derived u this testdata can produce.
    ln wobbles by 1 ulp between Spark and DuckDB (~1e-14 absolute at
    these magnitudes, ~1e-8 after the 10⁶ scale), so audit every doc_id
    at every sweep scale factor: the two engines' quantized integers
    must be identical and ln·10⁶ must sit clear of floor boundaries."""
    import math

    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        hvs = [
            r[0]
            for r in con.execute(
                "SELECT CAST(('0x' || substring(md5('ws:' || "
                "CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
                f"FROM '/root/testdata/{sf}/documents.parquet'"
            ).fetchall()
        ]
        us = [(h + 1) / 4294967296.0 for h in hvs]
        spark_q = [
            r[0]
            for r in spark.createDataFrame([(u,) for u in us], "u: double")
            .selectExpr("CAST(floor(ln(u) * 1000000.0) AS LONG)")
            .collect()
        ]
        duck_q = [
            con.execute(
                "SELECT CAST(floor(ln(?) * 1000000.0) AS BIGINT)", [u]
            ).fetchone()[0]
            for u in us
        ]
        assert spark_q == duck_q, sf
        for u in us:
            frac = (math.log(u) * 1e6) % 1.0
            assert min(frac, 1.0 - frac) > 1e-8, (sf, u, frac)


def test_dsir_ln_floor_boundary_audit(spark):
    """dsir_select's weight exactness rests on floor(ln(p)·10⁶) agreeing
    across engines for every smoothed bin probability the sf0.01 corpus
    produces (p = (c+1)/(tot+512) — IEEE division of exact integers, so
    both engines ln the identical double; only the 1-ulp ln wobble can
    bite). Audit the ACTUAL argument set at the gate's hyperparameters:
    quantized integers identical across engines, and ln·10⁶ clear of
    integer floor boundaries."""
    import math

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.01/documents.parquet'"
    )
    pairs = con.execute(
        """
        WITH base AS (
            SELECT doc_id, source IN ('src0', 'src1') AS tgt,
                   regexp_split_to_array(trim(text), '\\s+') AS ws
            FROM documents
        ),
        feats AS (
            SELECT tgt, lower(t.f) AS f
            FROM (SELECT tgt,
                         list_concat(
                             ws,
                             list_transform(range(1, greatest(len(ws), 1)),
                                            i -> ws[i] || ' ' || ws[i + 1])
                         ) AS fs
                  FROM base),
                 unnest(fs) AS t(f)
            WHERE t.f <> ''
        ),
        binned AS (
            SELECT tgt,
                   CAST(('0x' || substring(md5('dsir:' || f), 1, 8))
                        AS BIGINT) % 512 AS b
            FROM feats
        ),
        counts AS (
            SELECT b,
                   CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_t,
                   CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT)
                       AS c_r
            FROM binned GROUP BY b
        ),
        totals AS (
            SELECT CAST(sum(c_t) AS BIGINT) AS tot_t,
                   CAST(sum(c_r) AS BIGINT) AS tot_r
            FROM counts
        )
        SELECT DISTINCT p FROM (
            SELECT CAST(c_t + 1 AS DOUBLE) / (tot_t + 512) AS p
            FROM counts CROSS JOIN totals
            UNION ALL
            SELECT CAST(c_r + 1 AS DOUBLE) / (tot_r + 512)
            FROM counts CROSS JOIN totals
        ) ORDER BY p
        """
    ).fetchall()
    ps = [r[0] for r in pairs]
    assert len(ps) > 100  # the corpus genuinely exercises the estimator

    duck_q = [
        con.execute(
            "SELECT CAST(floor(ln(?) * 1000000.0) AS BIGINT)", [p]
        ).fetchone()[0]
        for p in ps
    ]
    spark_q = [
        r[0]
        for r in spark.createDataFrame([(p,) for p in ps], "p: double")
        .selectExpr(
            "CAST(floor(ln(p) * 1000000.0) AS BIGINT) AS q", "p"
        )
        .orderBy("p")
        .select("q")
        .collect()
    ]
    assert spark_q == duck_q
    for p in ps:
        frac = (math.log(p) * 1e6) % 1.0
        assert min(frac, 1.0 - frac) > 1e-7, (p, frac)


def test_pmi_ln_floor_boundary_audit(spark):
    """token_pmi's exactness rests on floor(ln·10⁶) agreeing across
    engines for every probability the sf0.01 corpus produces — all
    unigram n/tot_u ratios plus every bigram pair_n/tot_b at the gate's
    min_count. Quantized integers identical; ln·10⁶ clear of floor
    boundaries."""
    import math

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.01/documents.parquet'"
    )
    ps = [
        r[0]
        for r in con.execute(
            """
            WITH base AS (
                SELECT regexp_split_to_array(trim(text), '\\s+') AS ws
                FROM documents
            ),
            unis AS (
                SELECT lower(t.w) AS w, count(*) AS n
                FROM base, unnest(ws) AS t(w) WHERE t.w <> '' GROUP BY 1
            ),
            big0 AS (
                SELECT lower(t.g) AS g
                FROM (SELECT list_transform(range(1, greatest(len(ws), 1)),
                                            i -> ws[i] || ' ' || ws[i + 1])
                          AS gs
                      FROM base),
                     unnest(gs) AS t(g)
                WHERE t.g NOT LIKE ' %' AND t.g NOT LIKE '% '
            ),
            tot AS (SELECT (SELECT CAST(sum(n) AS BIGINT) FROM unis) AS tu,
                           (SELECT count(*) FROM big0) AS tb)
            SELECT DISTINCT p FROM (
                SELECT CAST(n AS DOUBLE) / tu AS p FROM unis CROSS JOIN tot
                UNION ALL
                SELECT CAST(c AS DOUBLE) / tb
                FROM (SELECT count(*) AS c FROM big0 GROUP BY g
                      HAVING count(*) >= 10) CROSS JOIN tot
            ) ORDER BY p
            """
        ).fetchall()
    ]
    assert len(ps) > 50

    duck_q = [
        con.execute(
            "SELECT CAST(floor(ln(?) * 1000000.0) AS BIGINT)", [p]
        ).fetchone()[0]
        for p in ps
    ]
    spark_q = [
        r[0]
        for r in spark.createDataFrame([(p,) for p in ps], "p: double")
        .selectExpr("CAST(floor(ln(p) * 1000000.0) AS BIGINT) AS q", "p")
        .orderBy("p")
        .select("q")
        .collect()
    ]
    assert spark_q == duck_q
    for p in ps:
        frac = (math.log(p) * 1e6) % 1.0
        assert min(frac, 1.0 - frac) > 1e-7, (p, frac)


def test_fim_transform_invariants(spark):
    """FIM reordering must preserve the token multiset (only ORDER plus
    the three sentinels change), keep all three parts non-empty, and be
    invertible from (p1, p2): re-splicing middle back between prefix
    and suffix recovers the whitespace-collapsed original."""
    from collections import Counter

    import pyspark.sql.functions as F

    from jobinsight_data_pipeline_spark.operators.examples import (
        FIM_MID,
        FIM_PRE,
        FIM_SUF,
        fim_transform,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = fim_transform(docs).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    for r in out.limit(200).collect():
        orig_toks = r["text"].split()
        if not r["fim_applied"]:
            assert r["fim_text"] == r["text"]
            assert len(orig_toks) < 4
            continue
        ft = r["fim_text"].split()
        assert ft[0] == FIM_PRE
        i_suf, i_mid = ft.index(FIM_SUF), ft.index(FIM_MID)
        prefix = ft[1:i_suf]
        suffix = ft[i_suf + 1 : i_mid]
        middle = ft[i_mid + 1 :]
        assert prefix and suffix and middle
        assert prefix + middle + suffix == orig_toks
        assert len(prefix) == r["p1"]
        assert len(prefix) + len(middle) == r["p2"]
        assert Counter(prefix + middle + suffix) == Counter(orig_toks)


def test_span_corrupt_invariants(spark):
    """Span corruption must be losslessly invertible: substituting each
    input sentinel with its target span recovers the original
    (whitespace-collapsed) text; sentinel numbering is 1..n_spans in
    order on BOTH sides; n_masked/n_spans/n_tokens are consistent."""
    import re

    from jobinsight_data_pipeline_spark.operators.examples import (
        span_corrupt,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = span_corrupt(docs).join(docs.select("doc_id", "text"), "doc_id")
    saw_multi_token_span = False
    for r in out.limit(200).collect():
        orig = " ".join(r["text"].split())
        assert r["n_tokens"] == len(r["text"].split())
        assert 0 <= r["n_spans"] <= r["n_masked"] <= r["n_tokens"]
        # parse targets into {sentinel: span tokens}
        spans: dict[str, list[str]] = {}
        cur = None
        for tok in r["targets"].split():
            m = re.fullmatch(r"<extra_id_(\d+)>", tok)
            if m:
                cur = tok
                spans[cur] = []
            else:
                assert cur is not None
                spans[cur].append(tok)
        assert len(spans) == r["n_spans"]
        assert sorted(spans) != [] or r["n_spans"] == 0
        assert [
            int(re.fullmatch(r"<extra_id_(\d+)>", s).group(1))
            for s in spans
        ] == list(range(1, r["n_spans"] + 1))
        assert sum(len(v) for v in spans.values()) == r["n_masked"]
        if any(len(v) > 1 for v in spans.values()):
            saw_multi_token_span = True
        # inversion: replace sentinels in inputs by their spans
        rebuilt = []
        for tok in r["inputs"].split():
            if tok in spans:
                rebuilt.extend(spans[tok])
            else:
                rebuilt.append(tok)
        assert " ".join(rebuilt) == orig, r["doc_id"]
    assert saw_multi_token_span, "fixture should exercise span merging"


def test_instruction_example_loss_span(spark):
    """The loss-mask span must address exactly the completion + EOS in
    the templated token stream, for varied prompt/completion shapes."""
    from jobinsight_data_pipeline_spark.operators.examples import (
        INS_EOS,
        instruction_example,
    )

    rows = [
        (1, "a b c", "x y"),
        (2, "single", "one two three four"),
        (3, "p q r s t", "z"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, prompt string, completion string"
    )
    for r in instruction_example(df).collect():
        toks = r["example_text"].split()
        assert len(toks) == r["n_tokens"]
        orig = dict((i, (p, c)) for i, p, c in rows)[r["doc_id"]]
        comp = orig[1].split()
        assert toks[r["loss_from"] : r["loss_to"]] == comp + [INS_EOS]
        assert r["loss_to"] == r["n_tokens"]
        assert toks[1 : 1 + r["n_prompt_tokens"]] == orig[0].split()


def _spark_tokens_ref(text: str) -> list[str]:
    """Python reference for textstats.tokens(): Spark trim strips
    SPACES only, and split(pattern, limit=-1) keeps leading AND
    trailing empty tokens — a bare str.split() is NOT equivalent (the
    r4 fuzz lesson)."""
    import re

    return re.split(r"\s+", text.strip(" "))


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("ab c\t\nxyz.!") + [" "]
            ),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_example_ops_total_on_whitespace_adversarial_text(texts):
    """fim_transform and span_corrupt must be TOTAL and internally
    consistent on whitespace-hostile inputs (leading tabs/newlines,
    empty strings, runs of separators) — the token-count bookkeeping
    must match the engine's actual tokens() semantics, not a Python
    str.split() approximation."""
    spark = _shared_spark()
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from jobinsight_data_pipeline_spark.operators.examples import (
        fim_transform,
        span_corrupt,
    )

    for r in fim_transform(df).collect():
        toks = _spark_tokens_ref(texts[r["doc_id"]])
        assert r["n_tokens"] == len(toks), (texts[r["doc_id"]], toks)
        if r["fim_applied"]:
            assert 1 <= r["p1"] < r["p2"] <= len(toks) - 1
        else:
            assert r["fim_text"] == texts[r["doc_id"]]
    for r in span_corrupt(df).collect():
        toks = _spark_tokens_ref(texts[r["doc_id"]])
        assert r["n_tokens"] == len(toks)
        assert 0 <= r["n_spans"] <= r["n_masked"] <= r["n_tokens"]


def _shared_spark():
    from jobinsight_data_pipeline_spark.session import get_spark

    return get_spark(app_name="jobinsight-tests", shuffle_partitions=4)


def test_instruction_packs_oracle_parity_on_hostile_corpus(spark, tmp_path):
    """The latent-class regression test for the round-11 self-review
    fix: on a corpus with \\t/\\n-leading text (Spark trim keeps an
    empty leading token), q_instruction_packs and its DuckDB oracle
    must STILL agree row-for-row — the empty-token filter on both
    sides makes re-tokenization count-preserving for any input."""
    import duckdb

    from jobinsight_data_pipeline_spark.catalog.textml import (
        O_INSTRUCTION_PACKS,
        q_instruction_packs,
    )

    rows = [
        (1, "\talpha beta gamma delta"),
        (2, "plain words here now and then"),
        (3, "\n\nx y"),
        (4, "trailing space "),
        (5, "one"),
        (6, "  doubled  gaps  between  words  "),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(f"{src}/documents.parquet")
    got = sorted(
        tuple(r)
        for r in q_instruction_packs(spark, src)
        .select(
            "doc_id", "n_tokens", "start_offset", "pack_id",
            "loss_from", "loss_to",
        )
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{src}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(O_INSTRUCTION_PACKS).fetchall())
    assert got == want, (got, want)
