"""Known-answer tests for the training-data operators (dedup,
similarity, text stats) — planted duplicates and orthogonal vectors make
the expected output exact."""

from __future__ import annotations

import datetime as dt
import functools

import pytest
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_near_pairs,
)
from jobinsight_data_pipeline_spark.operators.similarity import (
    cosine_near_pairs,
    cosine_topk,
    lsh_cosine_near_pairs,
    lsh_cosine_topk,
)
from jobinsight_data_pipeline_spark.operators.textstats import with_text_stats

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = BASE.replace("today", "tonight")  # one-token change → high jaccard
FAR = "completely different words about spark clusters and parquet files"


@pytest.fixture()
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, NEAR),  # near duplicate of 1
        (4, FAR),
        (5, "tiny doc"),  # too short for 3-gram shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["survivor_id"]: r for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert len(out) == 4  # 5 docs, one exact-dup pair
    assert out[1]["dup_count"] == 2  # doc 2 collapsed into doc 1


def test_shingles_shape(docs):
    sh = shingles(docs, "doc_id", "text").collect()
    by_doc = {}
    for r in sh:
        by_doc.setdefault(r["doc"], set()).add(r["shingle"])
    n_tokens = len(BASE.split())
    assert len(by_doc[1]) == n_tokens - 2  # all 3-grams distinct here
    assert by_doc[1] == by_doc[2]
    assert 5 not in by_doc  # 2 tokens < n
    assert "the quick brown" in by_doc[1]


def test_ngram_jaccard_exact_and_prefix_agree(docs):
    full = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3)
    a = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in full.collect()}
    assert (1, 2, 1.0) in a  # exact dup: jaccard 1
    pairs = {(x, y) for x, y, _ in a}
    assert (1, 3) in pairs and (2, 3) in pairs  # near dups found
    assert not any(4 in p for p in pairs)  # unrelated doc matches nothing


def test_minhash_lsh_finds_near_dups(docs):
    got = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
           minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert got[(1, 2)] == 1.0  # identical docs: all minhashes equal
    assert (1, 3) in got and got[(1, 3)] >= 0.5  # near dup caught by LSH
    assert not any(4 in k for k in got)


def test_simhash_properties(docs):
    sig = {r["doc"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert sig[1] == sig[2]  # identical text → identical simhash
    ham13 = bin(sig[1] ^ sig[3]).count("1")
    ham14 = bin(sig[1] ^ sig[4]).count("1")
    assert ham13 < ham14  # near dup closer than unrelated doc
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             simhash_near_pairs(docs, "doc_id", "text", max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_banding_complete(spark):
    """bands = max_hamming + 1 makes the banded join recall-COMPLETE:
    for each radius, the banded pairs equal the exact all-pairs
    bit_count(xor) ≤ radius set (and hamming values agree)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = simhash(docs, "doc_id", "text").cache()
    a = sig.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("sig_a"))
    b = sig.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("sig_b"))
    exact_all = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
        .collect()
    }
    for radius in (3, 8):
        expect = {p: h for p, h in exact_all.items() if h <= radius}
        got = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_pairs(
                docs, "doc_id", "text", max_hamming=radius
            ).collect()
        }
        assert got == expect, f"radius {radius}: banded != exact"
        assert expect, f"radius {radius}: fixture has no near pairs to check"


def test_hash_split_stability_and_coverage(spark):
    from jobinsight_data_pipeline_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    df = spark.range(5_000).withColumnRenamed("id", "k")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["k"]: r["split"] for r in hash_split(df, "k", splits).collect()}
    # every row assigned; fractions roughly honored
    assert len(a) == 5_000
    n_train = sum(1 for v in a.values() if v == "train")
    assert 0.75 < n_train / 5_000 < 0.85
    # appending rows never reassigns existing keys
    b = {r["k"]: r["split"] for r in
         hash_split(spark.range(10_000).withColumnRenamed("id", "k"), "k", splits).collect()}
    assert all(b[k] == v for k, v in a.items())
    # a different salt is an independent re-split
    c = {r["k"]: r["split"] for r in hash_split(df, "k", splits, salt="v2").collect()}
    assert any(c[k] != v for k, v in a.items())
    # deterministic_sample picks a stable subset of ~the right size
    s1 = {r["k"] for r in deterministic_sample(df, "k", 0.1).collect()}
    s2 = {r["k"] for r in deterministic_sample(df, "k", 0.2).collect()}
    assert 0.07 < len(s1) / 5_000 < 0.13
    assert s1 <= s2  # growing the fraction only adds rows


def test_asof_join_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.asof import asof_join

    def ts(day, hour=0):
        return dt.datetime(2024, 1, day, hour)

    versions = spark.createDataFrame(
        [
            (1, ts(1), 10, "a"),
            (1, ts(5), 20, None),   # NULL payload field must not bleed from v1
            (1, ts(9), 30, "c"),
            (2, ts(6), 99, "z"),
        ],
        "key long, valid_from timestamp, rate long, tag string",
    )
    probes = spark.createDataFrame(
        [
            (100, 1, ts(4, 12)),  # between v1 and v2 → v1
            (101, 1, ts(5)),      # exactly at v2 → v2 (<= semantics)
            (102, 1, ts(30)),     # after v3 → v3
            (103, 2, ts(1)),      # before key 2's only version → no match
            (104, 3, ts(10)),     # key with no versions → no match
        ],
        "probe_id long, key long, event_ts timestamp",
    )
    out = {
        r["probe_id"]: (r["rate"], r["tag"])
        for r in asof_join(
            probes, versions, "key", "event_ts", "valid_from", ["rate", "tag"]
        ).collect()
    }
    assert out == {
        100: (10, "a"),
        101: (20, None),
        102: (30, "c"),
        103: (None, None),
        104: (None, None),
    }
    inner = asof_join(
        probes, versions, "key", "event_ts", "valid_from", ["rate", "tag"],
        how="inner",
    )
    assert {r["probe_id"] for r in inner.collect()} == {100, 101, 102}


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0]),   # same direction as 0 → sim 1
        (2, [0.9, 0.1, 0.0]),   # close
        (3, [0.0, 1.0, 0.0]),   # orthogonal
        (4, [-1.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 0")
    got = [(r["rank"], r["neighbor_id"], r["sim"]) for r in
           cosine_topk(emb, q, k=4).orderBy("rank").collect()]
    assert got[0] == (1, 1, 1.0)
    assert got[1][1] == 2 and got[1][2] == pytest.approx(0.9939, abs=1e-4)
    assert got[2] == (3, 3, 0.0)
    assert got[3] == (4, 4, -1.0)


def test_lsh_topk_recall(spark, request):
    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in lsh_cosine_topk(emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall} too low"


def test_cosine_near_pairs_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0]),   # sim(0,1) = 1
        (2, [0.9, 0.1, 0.0]),   # close to 0 and 1
        (3, [0.0, 1.0, 0.0]),   # orthogonal to 0/1
        (4, [-1.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["vec_a"], r["vec_b"]): r["sim"] for r in
           cosine_near_pairs(emb, threshold=0.9).collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] == pytest.approx(0.9939, abs=1e-4)


def test_lsh_near_pairs_recall_and_precision(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["vec_a"], r["vec_b"]): r["sim"] for r in
             cosine_near_pairs(emb, threshold=0.4).collect()}
    approx = {(r["vec_a"], r["vec_b"]): r["sim"] for r in
              lsh_cosine_near_pairs(emb, threshold=0.4).collect()}
    assert exact, "fixture should contain near-dup pairs at t=0.4"
    # precision 1.0: every LSH pair is exact-verified, with the same sim
    for pair, sim in approx.items():
        assert exact[pair] == sim
    recall = len(approx) / len(exact)
    assert recall >= 0.9, f"LSH near-dup recall {recall} too low"


def _planted_vectors(spark):
    """Six random 64-d vectors, identical copies of the first three
    (ids 10-12) and a scaled copy of the fourth (id 20): every copy has
    the same sign sketch as its original, so it agrees on every band."""
    import numpy as np

    base = np.random.default_rng(5).standard_normal((6, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(10 + i, rows[i][1]) for i in range(3)]
    rows.append((20, [2.0 * x for x in rows[3][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _planted_hashes(spark, offset):
    """Four fixed random 64-bit hashes, ids offset..offset+3: two calls
    with different offsets give identical hashes under distinct ids."""
    import random

    rnd = random.Random(11)
    rows = [(offset + i, rnd.getrandbits(64) - (1 << 63)) for i in range(4)]
    return spark.createDataFrame(rows, "id long, h long")


def test_lsh_full_width_band_matches_exact(spark):
    """threshold=1.0 autotunes to ONE 64-bit band (lsh_params_for →
    (64, 1)); the band is the whole sketch, so no 2^64 - 1 mask literal
    is built, and the pairs equal the exact all-pairs result."""
    vecs = _planted_vectors(spark)
    want = {
        (r["vec_a"], r["vec_b"], r["sim"])
        for r in cosine_near_pairs(vecs, threshold=1.0).collect()
    }
    got = {
        (r["vec_a"], r["vec_b"], r["sim"])
        for r in lsh_cosine_near_pairs(vecs, threshold=1.0).collect()
    }
    assert {(a, b) for a, b, _ in want} == {(0, 10), (1, 11), (2, 12), (3, 20)}
    assert got == want
    top = lsh_cosine_topk(
        vecs, vecs.filter("vec_id < 3"), k=1, n_planes=64, bands=1
    )
    assert {(r["query_id"], r["neighbor_id"]) for r in top.collect()} == {
        (0, 10),
        (1, 11),
        (2, 12),
    }


def _banded_ops():
    from jobinsight_data_pipeline_spark.operators.dedup import (
        hamming_near_join,
        hamming_near_pairs,
        minhash_lsh_pairs_portable,
    )

    return {
        "minhash_lsh_pairs": lambda sp, d: (
            minhash_lsh_pairs(d, "doc_id", "text"), ("doc_a", "doc_b")
        ),
        "minhash_lsh_pairs_portable": lambda sp, d: (
            minhash_lsh_pairs_portable(d, "doc_id", "text"), ("doc_a", "doc_b")
        ),
        "simhash_near_pairs": lambda sp, d: (
            simhash_near_pairs(d, "doc_id", "text"), ("doc_a", "doc_b")
        ),
        "hamming_near_pairs": lambda sp, d: (
            hamming_near_pairs(
                _planted_hashes(sp, 0).unionByName(_planted_hashes(sp, 10)),
                "id",
                "h",
            ),
            ("id_a", "id_b"),
        ),
        "hamming_near_join": lambda sp, d: (
            hamming_near_join(
                _planted_hashes(sp, 10), _planted_hashes(sp, 0), "id", "h"
            ),
            ("id_new", "id_hist"),
        ),
        "lsh_cosine_near_pairs": lambda sp, d: (
            lsh_cosine_near_pairs(_planted_vectors(sp), threshold=0.9),
            ("vec_a", "vec_b"),
        ),
        "lsh_cosine_topk": lambda sp, d: (
            lsh_cosine_topk(
                _planted_vectors(sp),
                _planted_vectors(sp).filter("vec_id < 3"),
                k=4,
            ),
            ("query_id", "neighbor_id"),
        ),
    }


@pytest.mark.parametrize("op", sorted(_banded_ops()))
def test_banded_join_emits_each_pair_once(spark, docs, op):
    """Identical docs/vectors/hashes agree on EVERY band, so the band
    join matches each such pair once per band; the first-agreeing-band
    filter must leave exactly one row per pair (set-based tests cannot
    see repeated rows)."""
    out, (a, b) = _banded_ops()[op](spark, docs)
    rows = [(r[a], r[b]) for r in out.collect()]
    assert rows, f"{op}: fixture produced no pairs"
    assert len(rows) == len(set(rows)), f"{op}: repeated pair rows {rows}"


@pytest.mark.parametrize(
    "entry",
    [
        "minhash_lsh_pairs",
        "minhash_lsh_pairs_portable",
        "build_dedup_state",
        "incremental_dedup",
    ],
)
def test_minhash_bands_must_divide_n_hashes(docs, entry):
    """bands ∤ n_hashes would drop the trailing signature components
    from every band; every MinHash entry point refuses it up front."""
    from jobinsight_data_pipeline_spark.operators import dedup

    kw = {"n_hashes": 16, "bands": 5}
    calls = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", **kw
        ),
        "minhash_lsh_pairs_portable": lambda: dedup.minhash_lsh_pairs_portable(
            docs, "doc_id", "text", **kw
        ),
        "build_dedup_state": lambda: dedup.build_dedup_state(docs, **kw),
        "incremental_dedup": lambda: dedup.incremental_dedup(
            docs, dedup.build_dedup_state(docs), **kw
        ),
    }
    with pytest.raises(ValueError, match="bands=5 must divide n_hashes=16"):
        calls[entry]()


def test_ivf_topk_recall_curve(spark):
    from jobinsight_data_pipeline_spark.operators.similarity import ivf_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}

    def recall(n_probe):
        ap = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_cosine_topk(emb, q, k=5, n_probe=n_probe).collect()
        }
        return len(exact & ap) / len(exact)

    r4, r8 = recall(4), recall(8)
    assert r8 >= r4  # more probes → recall can only grow
    assert r8 >= 0.75


def test_text_stats(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog!"), (2, ""), (3, "xin chào các bạn của tôi và")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in with_text_stats(df, "text").collect()}
    r = out[1]
    assert r["n_words"] == 5
    assert r["n_unique_words"] == 5  # 'The' vs 'the' differ case-sensitively
    assert r["stop_count_en"] == 3  # The, and, the (case-insensitive match)
    assert r["punct_chars"] == 1  # '!'
    assert r["approx_tokens"] == 6  # 5 words + '!'
    assert r["lang_guess"] == "en"
    assert out[2]["n_words"] == 0
    assert out[3]["lang_guess"] == "vi"  # 'các', 'của', 'và' hit the vi list
    # fingerprint is whitespace/case-normalized
    df2 = spark.createDataFrame(
        [(1, "The  cat and   THE DOG!")], "doc_id long, text string"
    )
    fp1 = out[1]["fingerprint"]
    fp2 = with_text_stats(df2, "text").collect()[0]["fingerprint"]
    assert fp1 == fp2


def test_language_id_known_answers(spark):
    """with_language_id: per-profile wins, the first-in-dict tie-break,
    the 'und' fallback, and exact integer ppm confidence."""
    from jobinsight_data_pipeline_spark.operators.textstats import (
        LANG_PROFILES,
        with_language_id,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat is of the house and it is to be seen"),
            (2, "le chien et le chat ne sont pas dans la"),
            (3, "der hund und die katze sind nicht zu haus"),
            (4, "el perro y el gato no se ven en la casa"),
            (5, "của và là các cho được một những có không"),
            (6, "zzz qqq 12345 @@@"),  # no profile hits -> und
            (7, ""),  # empty -> und, 0 tokens, 0 ppm
            # tie: 'the of' (en=2) vs 'le la' (fr=2) -> first profile wins
            (8, "the of le la"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in with_language_id(df, "text").collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[2]["lang_pred"] == "fr"
    assert out[3]["lang_pred"] == "de"
    assert out[4]["lang_pred"] == "es"
    assert out[5]["lang_pred"] == "vi"
    assert out[6]["lang_pred"] == "und" and out[6]["lang_hits"] == 0
    assert out[7]["lang_pred"] == "und" and out[7]["lang_conf_ppm"] == 0
    # tie-break: en precedes fr in LANG_PROFILES insertion order
    assert list(LANG_PROFILES)[0] == "en"
    assert out[8]["lang_pred"] == "en" and out[8]["lang_hits"] == 2
    # exact integer ppm: doc 2 has 10 tokens, 7 fr hits -> 700000
    assert out[2]["lang_hits"] == 7
    assert out[2]["lang_conf_ppm"] == 700_000


def test_repetition_signals_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.textstats import (
        with_repetition_signals,
    )

    docs = [
        # 4 lines, one duplicate; "- " bullet; trailing ellipsis
        (1, "buy now\nbuy now\n- item one\nwait for it..."),
        # "a b" occurs 3x in "a b a b a b" (grams: 'a b','b a','a b','b a',
        # 'a b'); top gram 'a b' count 3, len 3; total chars 11
        (2, "a b a b a b"),
        (3, ""),  # empty: every signal 0
        (4, None),  # NULL text: every signal 0
        (5, "unique words only here"),  # no repetition
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_repetition_signals(df, "text").collect()}

    r = out[1]
    assert r["dup_line_frac"] == 0.25  # 1 of 4 lines repeated
    assert r["bullet_line_frac"] == 0.25
    assert r["ellipsis_line_frac"] == 0.25

    r = out[2]
    assert r["dup_word_frac"] == round(1 - 2 / 6, 4)
    assert r["top_bigram_frac"] == round(3 * 3 / 11, 4)
    assert r["mean_word_len"] == 1.0

    for empty_id in (3, 4):
        r = out[empty_id]
        for c in (
            "dup_line_frac", "dup_word_frac", "mean_word_len",
            "top_bigram_frac", "bullet_line_frac", "ellipsis_line_frac",
        ):
            assert r[c] == 0.0, (empty_id, c, r[c])

    r = out[5]
    assert r["dup_word_frac"] == 0.0
    # each bigram occurs once: coverage = len of the lexicographically
    # smallest gram ('here' is last word; grams sorted, strict > keeps
    # the first) over total chars
    assert r["dup_line_frac"] == 0.0


# --- connected components (operators/components.py) ------------------------

def test_connected_components_chain_and_islands(spark):
    from jobinsight_data_pipeline_spark.operators.components import (
        connected_components,
        dedup_clusters,
    )

    # a diameter-9 path (forces multiple star rounds), a 2-cluster,
    # a duplicate edge, and a self-loop (dropped)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)] + [(21, 20), (20, 21), (30, 30)],
        "doc_a: long, doc_b: long",
    )
    labels = {
        r["node"]: r["component"]
        for r in connected_components(pairs, "doc_a", "doc_b").collect()
    }
    assert labels == {**{i: 1 for i in range(1, 11)}, 20: 20, 21: 20}

    cl = dedup_clusters(pairs).collect()
    assert {r["doc_id"]: r["cluster_size"] for r in cl if r["doc_id"] in (1, 20)} == {
        1: 10,
        20: 2,
    }
    canon = sorted(r["doc_id"] for r in cl if r["is_canonical"])
    assert canon == [1, 20]


def test_connected_components_empty_pairs(spark):
    from jobinsight_data_pipeline_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "doc_a: long, doc_b: long")
    assert connected_components(pairs, "doc_a", "doc_b").count() == 0


# --- C4-style heuristic filters (operators/textstats.py) --------------------

def test_c4_signals_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.textstats import with_c4_signals

    good = (
        "The weather is fine and the cats have names. "
        "We went to the park. It was that good of a day!"
    )
    code = "function f() { return 1; }"
    lorem = "Lorem ipsum dolor sit amet. More of the lorem ipsum text here. And that."
    df = spark.createDataFrame(
        [(1, good), (2, code), (3, lorem), (4, "")], "doc_id: long, text: string"
    )
    out = {r["doc_id"]: r for r in with_c4_signals(df, "text").collect()}

    assert out[1]["c4_keep"] is True
    assert out[1]["sentence_cnt"] == 3
    assert out[1]["stopword_presence"] >= 2
    assert out[1]["alpha_word_frac"] == 1.0

    assert out[2]["has_curly_brace"] is True and out[2]["c4_keep"] is False
    assert out[3]["has_lorem_ipsum"] is True and out[3]["c4_keep"] is False
    assert out[4]["c4_keep"] is False and out[4]["alpha_word_frac"] == 0.0


def test_c4_terminal_and_short_line_fractions(spark):
    from jobinsight_data_pipeline_spark.operators.textstats import with_c4_signals

    text = "A full sentence ends here.\nshort line\nAnother proper sentence again!\n"
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    r = with_c4_signals(df, "text").first()
    assert r["terminal_punct_line_frac"] == round(2 / 3, 4)
    # 'short line' (2 words) and the 4-word final line are short; the
    # 5-word first line is not
    assert r["short_line_frac"] == round(2 / 3, 4)


# --- sequence packing (operators/packing.py) --------------------------------

def test_pack_sequences_known_answers_and_path_equivalence(spark):
    from jobinsight_data_pipeline_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, 100), (2, 900), (3, 30), (4, 1000), (5, 500)],
        "doc_id: long, n_tokens: int",
    )
    # capacity 1000: offsets 0,100,1000,1030,2030 -> packs 0,0,1,1,2
    expect = {1: (0, 0), 2: (100, 0), 3: (1000, 1), 4: (1030, 1), 5: (2030, 2)}

    delta = pack_sequences(df, "n_tokens", 1000, ["doc_id"], bounds=[])
    got = {r["doc_id"]: (r["start_offset"], r["pack_id"]) for r in delta.collect()}
    assert got == expect

    # bucketed path with explicit split points must agree exactly —
    # offsets depend only on the total order, never on the bounds
    for bounds in ([2], [1, 3], [3, 3, 4]):
        buck = pack_sequences(
            df, "n_tokens", 1000, ["doc_id"], bounds=bounds
        )
        got = {r["doc_id"]: (r["start_offset"], r["pack_id"]) for r in buck.collect()}
        assert got == expect, bounds


def test_pack_sequences_empty_and_single(spark):
    from jobinsight_data_pipeline_spark.operators.packing import pack_sequences

    empty = spark.createDataFrame([], "doc_id: long, n_tokens: int")
    assert pack_sequences(empty, "n_tokens", 512, ["doc_id"]).count() == 0

    one = spark.createDataFrame([(7, 9000)], "doc_id: long, n_tokens: int")
    r = pack_sequences(one, "n_tokens", 512, ["doc_id"]).first()
    assert (r["start_offset"], r["pack_id"]) == (0, 0)


# --- decontamination (operators/dedup.ngram_containment_pairs) --------------

def test_ngram_containment_catches_embedded_eval_prompt(spark):
    from jobinsight_data_pipeline_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    prompt = "what is the capital of france answer briefly"
    page = (
        "welcome to quiz corner where we collect trivia for everyone "
        + prompt
        + " and many other fascinating questions about geography and history "
        "that readers send in every week for our popular newsletter"
    )
    train = spark.createDataFrame([(0, page)], "doc_id: long, text: string")
    test = spark.createDataFrame(
        [(1, prompt), (3, "completely unrelated sentence about cooking pasta")],
        "doc_id: long, text: string",
    )
    hits = ngram_containment_pairs(train, test, "doc_id", "text", n=3, threshold=0.8)
    rows = hits.collect()
    assert [(r["test_id"], r["train_id"], r["containment"]) for r in rows] == [
        (1, 0, 1.0)
    ]

    # the same pair is INVISIBLE to symmetric Jaccard at any useful
    # threshold — the reason decontamination uses containment
    both = train.unionByName(test)
    jac = ngram_jaccard_pairs(both, "doc_id", "text", n=3, threshold=0.5)
    assert jac.filter("doc_a = 0 AND doc_b = 1").count() == 0


def test_stratified_sample_exact_counts_and_stability(spark):
    from jobinsight_data_pipeline_spark.operators.sampling import (
        stratified_sample_exact,
    )

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(60)], "doc_id: long, stratum: string"
    )
    s1 = stratified_sample_exact(df, ["stratum"], "doc_id", 5)
    counts = {r["stratum"]: r["n"] for r in s1.groupBy("stratum").agg(
        F.count("*").alias("n")).collect()}
    assert counts == {"s0": 5, "s1": 5, "s2": 5}

    # deterministic: same pick on a re-run and after a relayout
    s2 = stratified_sample_exact(df.repartition(7), ["stratum"], "doc_id", 5)
    assert sorted(r["doc_id"] for r in s1.collect()) == sorted(
        r["doc_id"] for r in s2.collect()
    )

    # a different salt draws a different (still exact-N) sample
    s3 = stratified_sample_exact(df, ["stratum"], "doc_id", 5, salt="other")
    assert sorted(r["doc_id"] for r in s3.collect()) != sorted(
        r["doc_id"] for r in s1.collect()
    )

    # undersized stratum keeps all its rows
    small = spark.createDataFrame([(1, "only"), (2, "only")],
                                  "doc_id: long, stratum: string")
    assert stratified_sample_exact(small, ["stratum"], "doc_id", 5).count() == 2


def test_unigram_logprob_orders_fluent_above_gibberish(spark):
    from jobinsight_data_pipeline_spark.operators.textstats import unigram_logprob

    fluent = "the cat sat on the mat and the dog sat on the rug"
    gibberish = "zxqv wjkp qqzt plmn vvxr"
    df = spark.createDataFrame(
        [(1, fluent), (2, gibberish), (3, fluent + " again"), (4, "  ")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob(df, "doc_id").collect()}
    assert out[1]["mean_logprob"] > out[2]["mean_logprob"]
    assert out[1]["n_scored_tokens"] == 13
    assert 4 not in out  # whitespace-only docs score nothing

    # capped vocabulary: unseen-vocab words score as the OOV floor and
    # ordering is preserved; every word still gets scored
    capped = {r["doc_id"]: r for r in
              unigram_logprob(df, "doc_id", vocab_limit=5).collect()}
    assert capped[1]["n_scored_tokens"] == 13
    assert capped[1]["mean_logprob"] > capped[2]["mean_logprob"]


def test_zorder_key_aligned_square_is_contiguous(spark):
    """Exact Morton property: a 2^k-aligned square maps to one contiguous
    key range — the locality that makes min/max stats prune on BOTH
    dimensions after a z-sort."""
    from jobinsight_data_pipeline_spark.operators.zorder import zorder_key

    grid = (
        spark.range(0, 256 * 256)
        .selectExpr("id % 256 AS x", "id div 256 AS y")
        .select("x", "y", )
    )
    keys = (
        grid.filter("x >= 64 AND x < 128 AND y >= 64 AND y < 128")
        .select(zorder_key(["x", "y"], bits=8).alias("z"))
        .agg(
            F.min("z").alias("lo"),
            F.max("z").alias("hi"),
            F.count("*").alias("n"),
            F.countDistinct("z").alias("d"),
        )
        .first()
    )
    assert keys["n"] == keys["d"] == 64 * 64
    assert keys["hi"] - keys["lo"] + 1 == 64 * 64  # contiguous range


def test_zorder_sort_preserves_rows(spark):
    from jobinsight_data_pipeline_spark.operators.zorder import zorder_sort

    df = spark.range(0, 1000).selectExpr("id % 37 AS x", "id % 53 AS y", "id")
    out = zorder_sort(df, ["x", "y"], bits=8)
    assert out.columns == df.columns
    assert out.count() == 1000
    assert out.exceptAll(df).isEmpty()


def test_chunk_documents_windows_and_overlap(spark):
    from jobinsight_data_pipeline_spark.operators.textstats import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, " ")],
                               "doc_id: long, text: string")
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_n_tokens"], r["chunk_text"])
        )
    # step 3: starts 0,3,6,9 over 10 tokens
    assert by_doc[1] == [
        (0, 4, "w0 w1 w2 w3"),
        (1, 4, "w3 w4 w5 w6"),
        (2, 4, "w6 w7 w8 w9"),
        (3, 1, "w9"),
    ]
    assert by_doc[2] == [(0, 2, "a b")]
    assert 3 not in by_doc  # whitespace-only doc emits nothing

    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_random_projection_preserves_relative_distances(spark):
    """JL property check: with k=32 the projected pairwise distances of
    unit-ish vectors stay within a loose multiplicative envelope of the
    originals, and the Spearman-ish rank agreement is strong enough that
    nearest-vs-farthest ordering survives the projection."""
    import numpy as np

    from jobinsight_data_pipeline_spark.operators.similarity import (
        random_projection,
    )

    rng = np.random.default_rng(0)
    base = rng.standard_normal(64)
    vecs = [base + rng.standard_normal(64) * (0.1 * i) for i in range(12)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id: long, embedding: array<float>",
    )
    out = random_projection(df, "vec_id", "embedding", dim=64, k=32)
    proj = {
        r["vec_id"]: np.array([r[f"p{j}"] for j in range(32)])
        for r in out.collect()
    }
    d0 = [float(np.linalg.norm(np.array(vecs[0]) - np.array(vecs[i]))) for i in range(1, 12)]
    dp = [float(np.linalg.norm(proj[0] - proj[i])) for i in range(1, 12)]
    # the farthest original neighbor must not project nearer than the
    # nearest original neighbor (gross ordering preserved)
    assert dp[d0.index(max(d0))] > dp[d0.index(min(d0))]
    # loose JL multiplicative envelope
    for o, p in zip(d0, dp):
        assert 0.4 * o <= p <= 1.8 * o, (o, p)


def test_semantic_dedup_kmeans_path_containment(spark):
    """Production path (fit_centroids seeded KMeans): every dropped doc
    must have a smaller-id exact-cosine near neighbor (dropping is only
    ever justified by a real near-duplicate), the kept set plus dropped
    set partitions the corpus, and re-running yields the identical
    verdict (seeded fit ⇒ deterministic)."""
    import numpy as np

    from jobinsight_data_pipeline_spark.operators.similarity import (
        cosine_near_pairs,
        semantic_dedup,
    )

    rng = np.random.default_rng(3)
    rows = []
    for i in range(30):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
        # planted near-duplicate: tiny perturbation, higher id
        rows.append((100 + i, [float(x) for x in v + rng.standard_normal(16) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = semantic_dedup(
        df, threshold=0.9, n_clusters=4, seed=5
    ).cache()
    assert out.count() == 60
    dropped = {r["vec_id"] for r in out.filter(~F.col("kept")).collect()}
    assert dropped, "planted near-duplicates must produce drops"
    exact = cosine_near_pairs(df, threshold=0.9)
    justified = {r["vec_b"] for r in exact.collect()}
    assert dropped <= justified
    again = semantic_dedup(df, threshold=0.9, n_clusters=4, seed=5)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    out.unpersist()


def test_mixture_sample_multiplicity_and_stability(spark):
    """Weight w ⇒ every row appears floor(w) or ceil(w) times, zero
    weight drops the group entirely, unlisted groups default to 1 copy,
    and the draw is a pure function of the key (append-stable: the same
    rows keep their copies when the frame doubles)."""
    from jobinsight_data_pipeline_spark.operators.sampling import mixture_sample

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, "k: long, g: string")
    out = mixture_sample(df, "g", {"a": 2.5, "b": 0.4, "c": 0.0}, "k").cache()
    per_key = {
        (r["k"]): r["n"]
        for r in out.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for k, g in rows:
        n = per_key.get(k, 0)
        if g == "a":
            assert n in (2, 3)
        elif g == "b":
            assert n in (0, 1)
        elif g == "c":
            assert n == 0
        else:
            assert n == 1
    # expected multiplicity ≈ w on a 100-key group
    n_a = out.filter(F.col("g") == "a").count()
    assert 200 <= n_a <= 300
    # append-stability: same keys, bigger frame → identical copies
    bigger = df.union(
        spark.createDataFrame([(i, "a") for i in range(1000, 1400)], "k: long, g: string")
    )
    out2 = mixture_sample(bigger, "g", {"a": 2.5, "b": 0.4, "c": 0.0}, "k")
    old = out2.filter(F.col("k") < 400)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, old.collect()))
    out.unpersist()


def test_shuffle_shard_permutation_and_path_equivalence(spark):
    """Ranks form an exact 0..n-1 permutation, every shard except the
    last is full, and the bucketed no-global-sort plan (explicit split
    bounds) emits bit-identical assignments to the single-sort plan."""
    from jobinsight_data_pipeline_spark.operators.packing import shuffle_shard

    df = spark.createDataFrame([(i,) for i in range(257)], "k: long")
    out = shuffle_shard(df, "k", shard_size=32, bounds=[]).cache()
    ranks = sorted(r["rank"] for r in out.collect())
    assert ranks == list(range(257))
    sizes = {
        r["shard"]: r["n"]
        for r in out.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(sizes[s] == 32 for s in range(8)) and sizes[8] == 1
    bucketed = shuffle_shard(df, "k", shard_size=32, bounds=["4", "8", "c"])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, bucketed.collect()))
    out.unpersist()


def test_redact_pii_known_answers(spark):
    """Each PII class is counted and replaced; sequential application
    means no double counting (the SSN is not also a phone, the IP is
    not half-eaten), and clean text passes through untouched."""
    from jobinsight_data_pipeline_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-y.org and ip 10.0.0.255 and ssn 123-45-6789"),
            (2, "phones 555 123 4567, 555-123-4567; plain 12345"),
            (3, "nothing sensitive here"),
        ],
        "id: long, text: string",
    )
    rows = {r["id"]: r for r in redact_pii(df, "text").collect()}
    r1 = rows[1]
    assert (r1["n_email"], r1["n_ssn"], r1["n_phone"], r1["n_ip"]) == (1, 1, 0, 1)
    assert r1["redacted"] == "mail <EMAIL> and ip <IP> and ssn <SSN>"
    r2 = rows[2]
    assert (r2["n_email"], r2["n_ssn"], r2["n_phone"], r2["n_ip"]) == (0, 0, 2, 0)
    assert r2["redacted"] == "phones <PHONE>, <PHONE>; plain 12345"
    r3 = rows[3]
    assert r3["redacted"] == "nothing sensitive here"
    assert (r3["n_email"], r3["n_ssn"], r3["n_phone"], r3["n_ip"]) == (0, 0, 0, 0)


def test_duplicate_spans_known_answers(spark):
    """A 4-token run planted in two docs is flagged in both; overlapping
    flagged windows merge into ONE maximal span; a doc with no repeats
    emits nothing; an in-document repeat also counts."""
    from jobinsight_data_pipeline_spark.operators.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon"  # 5 tokens → two 4-windows
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"x y z {shared} w"),
            (3, "totally unique words only here today friends again"),
            (4, "p q r s p q r s p q r s"),  # in-doc repeats
        ],
        "doc_id: long, text: string",
    )
    out = {
        (r["doc"], r["span_start"], r["span_end"]): r["n_windows"]
        for r in duplicate_spans(df, "doc_id", "text", n=4).collect()
    }
    # doc 1: tokens 2..6 are the shared run → windows at pos 2,3 merge to [2,7)
    assert out.get((1, 2, 7)) == 2
    # doc 2: shared run at tokens 3..7 → [3,8)
    assert out.get((2, 3, 8)) == 2
    assert not any(k[0] == 3 for k in out)
    # doc 4: every 4-window of the repeated phrase duplicates → one span [0,12)
    assert out.get((4, 0, 12)) == 9


def test_exact_match_spans_known_answers(spark):
    """Aligned match pairs report WHERE each copy starts and the exact
    common length: a 10-token run shared by two docs reports one pair
    with both start positions and match_len 10; an in-document repeat
    reports doc_a = doc_b with pos_a < pos_b; below-min_len matches
    are suppressed; maximality — the run is not split or extended."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        exact_match_spans,
    )

    shared = "a0 a1 a2 a3 a4 a5 a6 a7 a8 a9"  # 10 tokens
    df = spark.createDataFrame(
        [
            (1, f"pre1 pre2 {shared} post1"),
            (2, f"{shared} tail1 tail2 tail3"),
            (3, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u11 u12"),
            # in-doc repeat of an 8-token run at positions 0 and 9
            (4, "r0 r1 r2 r3 r4 r5 r6 r7 gap r0 r1 r2 r3 r4 r5 r6 r7"),
        ],
        "doc_id: long, text: string",
    )
    rows = exact_match_spans(df, "doc_id", "text", k=4, min_len=8).collect()
    got = {
        (r["doc_a"], r["start_a"], r["doc_b"], r["start_b"]): r["match_len"]
        for r in rows
    }
    assert got == {
        (1, 2, 2, 0): 10,  # cross-doc: starts 2 and 0, exactly 10 tokens
        (4, 0, 4, 9): 8,  # in-doc: EARLIER copy is side a (pos_a < pos_b)
    }, got
    # k-sized matches below min_len are suppressed entirely
    assert not exact_match_spans(
        df.filter("doc_id in (1, 2)"), "doc_id", "text", k=4, min_len=11
    ).collect()
    import pytest

    with pytest.raises(ValueError, match="min_len"):
        exact_match_spans(df, "doc_id", "text", k=8, min_len=4)


def test_exact_match_spans_equals_bruteforce(spark):
    """Seeded fuzz vs an O(n²·L) reference: on random small-alphabet
    corpora (engineered so repeats are common), the operator's maximal
    aligned matches at min_len L must equal the brute-force set of
    maximal common substrings of length ≥ L over all position pairs."""
    import random

    from jobinsight_data_pipeline_spark.operators.dedup import (
        exact_match_spans,
    )

    def brute(docs: dict, k: int, L: int) -> dict:
        out = {}
        items = sorted(docs.items())
        toks = {d: t.split() for d, t in items}
        for ai in range(len(items)):
            for bi in range(ai, len(items)):
                da, db = items[ai][0], items[bi][0]
                A, B = toks[da], toks[db]
                # maximal runs per diagonal: match_len at aligned offsets
                for diag in range(-len(B) + 1, len(A)):
                    run = 0
                    best = []
                    lo = max(0, diag)
                    hi = min(len(A), len(B) + diag)
                    for pa in range(lo, hi + 1):
                        pb = pa - diag
                        same = (
                            pa < hi
                            and A[pa] == B[pb]
                            and not (da == db and diag == 0)
                        )
                        if same:
                            run += 1
                        else:
                            if run >= L:
                                sa = pa - run
                                # operator convention for in-doc pairs:
                                # the EARLIER copy is side a (pos_a <
                                # pos_b ⇒ diag < 0); diag > 0 is the
                                # mirrored duplicate diagonal — skip
                                if da == db and diag > 0:
                                    pass
                                else:
                                    out[(da, sa, db, sa - diag)] = run
                            run = 0
        return out

    rng = random.Random(4242)
    for trial in range(5):
        docs = {}
        vocab = [f"w{i}" for i in range(6)]
        for d in range(6):
            n = rng.randint(8, 40)
            docs[d] = " ".join(rng.choice(vocab) for _ in range(n))
        # plant a guaranteed in-document repeat (convention coverage)
        rep = " ".join(rng.choice(vocab) for _ in range(7))
        docs[6] = f"{rep} w0 w1 w0 w1 w0 {rep}"
        k, L = 3, 5
        df = spark.createDataFrame(
            list(docs.items()), "doc_id: long, text: string"
        )
        got = {
            (r["doc_a"], r["start_a"], r["doc_b"], r["start_b"]): r["match_len"]
            for r in exact_match_spans(df, "doc_id", "text", k=k, min_len=L).collect()
        }
        want = brute(docs, k, L)
        assert got == want, (trial, got, want)


def test_remove_duplicate_copies_equals_bruteforce(spark):
    """Seeded fuzz: keep-first removal over random small-alphabet
    corpora must equal masking every LATER-side covered token of the
    brute-force maximal-match set (doc_b side; earlier copy untouched),
    and surviving token counts must reconcile per doc."""
    import random

    from jobinsight_data_pipeline_spark.operators.dedup import (
        remove_duplicate_copies,
    )

    def brute_matches(docs, L):
        out = {}
        items = sorted(docs.items())
        toks = {d: t.split() for d, t in items}
        for ai in range(len(items)):
            for bi in range(ai, len(items)):
                da, db = items[ai][0], items[bi][0]
                A, B = toks[da], toks[db]
                for diag in range(-len(B) + 1, len(A)):
                    if da == db and diag >= 0:
                        continue  # in-doc: keep diag < 0 (a earlier)
                    run = 0
                    lo, hi = max(0, diag), min(len(A), len(B) + diag)
                    for pa in range(lo, hi + 1):
                        same = pa < hi and A[pa] == B[pa - diag]
                        if same:
                            run += 1
                        else:
                            if run >= L:
                                out[(da, pa - run, db, pa - run - diag)] = run
                            run = 0
        return out

    rng = random.Random(7117)
    for trial in range(4):
        docs = {}
        vocab = [f"w{i}" for i in range(5)]
        for d in range(6):
            docs[d] = " ".join(
                rng.choice(vocab) for _ in range(rng.randint(8, 35))
            )
        L, k = 5, 3
        matches = brute_matches(docs, L)
        covered: dict = {d: set() for d in docs}
        for (_, _, db, sb), ln in matches.items():
            covered[db].update(range(sb, sb + ln))
        want = {
            d: (
                " ".join(
                    t for i, t in enumerate(docs[d].split())
                    if i not in covered[d]
                ),
                len(docs[d].split()),
                len(covered[d]),
            )
            for d in docs
        }
        df = spark.createDataFrame(
            list(docs.items()), "doc_id: long, text: string"
        )
        got = {
            r["doc_id"]: (r["cleaned"], r["n_tokens"], r["n_removed"])
            for r in remove_duplicate_copies(
                df, "doc_id", "text", k=k, min_len=L
            ).collect()
        }
        assert got == want, (trial, got, want)


def test_remove_duplicate_copies_keeps_earliest(spark):
    """Keep-ONE-copy election: the earlier side of every aligned match
    survives untouched, the later side loses exactly the matched span —
    cross-doc (smaller doc id wins) and in-doc (earlier position wins);
    clean docs pass through byte-identical."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        remove_duplicate_copies,
    )

    shared = "a0 a1 a2 a3 a4 a5 a6 a7 a8 a9"
    df = spark.createDataFrame(
        [
            (1, f"pre1 pre2 {shared} post1"),
            (2, f"{shared} tail1 tail2 tail3"),
            (3, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u11 u12"),
            (4, "r0 r1 r2 r3 r4 r5 r6 r7 gap r0 r1 r2 r3 r4 r5 r6 r7"),
        ],
        "doc_id: long, text: string",
    )
    out = {
        r["doc_id"]: (r["cleaned"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_copies(
            df, "doc_id", "text", k=4, min_len=8
        ).collect()
    }
    # doc 1 is the EARLIER copy: untouched
    assert out[1] == (f"pre1 pre2 {shared} post1", 13, 0)
    # doc 2 is the later copy: loses exactly the 10 shared tokens
    assert out[2] == ("tail1 tail2 tail3", 13, 10)
    # clean doc passes through
    assert out[3][2] == 0
    # in-doc repeat: FIRST copy survives, second is removed
    assert out[4] == ("r0 r1 r2 r3 r4 r5 r6 r7 gap", 17, 8)


def test_shard_manifest_detects_any_row_change(spark):
    """The manifest must be reproducible across re-materializations and
    sensitive to a single changed row: full shards carry exactly
    shard_size rows with contiguous rank ranges, and editing one row's
    content flips exactly that shard's checksum."""
    from jobinsight_data_pipeline_spark.operators.packing import shard_manifest

    df = spark.createDataFrame(
        [(i, f"content-{i}") for i in range(130)], "k: long, body: string"
    )
    m1 = {r["shard"]: r for r in shard_manifest(df, "k", "body", 32).collect()}
    m2 = {r["shard"]: r for r in shard_manifest(df, "k", "body", 32).collect()}
    assert m1.keys() == m2.keys() == {0, 1, 2, 3, 4}
    for s in m1:
        assert tuple(m1[s]) == tuple(m2[s])
        assert m1[s]["rank_max"] - m1[s]["rank_min"] + 1 == m1[s]["n_rows"]
        assert m1[s]["n_rows"] == (32 if s < 4 else 2)

    edited = df.withColumn(
        "body",
        F.when(F.col("k") == 77, F.lit("tampered")).otherwise(F.col("body")),
    )
    m3 = {r["shard"]: r for r in shard_manifest(edited, "k", "body", 32).collect()}
    diff = [
        s for s in m1 if m1[s]["content_checksum"] != m3[s]["content_checksum"]
    ]
    assert len(diff) == 1  # exactly the shard holding row 77
    assert all(m1[s]["n_rows"] == m3[s]["n_rows"] for s in m1)


def test_remove_spans_known_answers(spark):
    """All copies of a duplicated run are masked in every holder, clean
    docs pass through byte-identical, and n_tokens/n_removed reconcile
    with the cleaned text."""
    from jobinsight_data_pipeline_spark.operators.dedup import remove_spans

    df = spark.createDataFrame(
        [
            (1, "one two alpha beta gamma delta three"),
            (2, "x alpha beta gamma delta y"),
            (3, "unique words entirely here"),
        ],
        "doc_id: long, text: string",
    )
    rows = {r["doc_id"]: r for r in remove_spans(df, n=4).collect()}
    assert rows[1]["cleaned"] == "one two three"
    assert (rows[1]["n_tokens"], rows[1]["n_removed"]) == (7, 4)
    assert rows[2]["cleaned"] == "x y"
    assert rows[3]["cleaned"] == "unique words entirely here"
    assert rows[3]["n_removed"] == 0
    for r in rows.values():
        kept = len(r["cleaned"].split()) if r["cleaned"] else 0
        assert kept == r["n_tokens"] - r["n_removed"]


def test_weighted_sample_per_row_multiplicity(spark):
    """Each row materializes floor(w) or ceil(w) copies of ITS OWN
    weight; w=0, negative, and NULL all drop; realized multiplicity
    converges to w over a large keyspace."""
    from jobinsight_data_pipeline_spark.operators.sampling import weighted_sample

    rows = [(i, [0.0, -1.0, None, 0.5, 1.0, 2.25][i % 6]) for i in range(6000)]
    df = spark.createDataFrame(rows, "k: long, w: double")
    out = weighted_sample(df, "w", "k").cache()
    per_key = {
        r["k"]: r["n"]
        for r in out.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for k, w in rows:
        n = per_key.get(k, 0)
        if not w or w <= 0:
            assert n == 0
        else:
            import math

            assert n in (math.floor(w), math.ceil(w)), (k, w, n)
    half = out.filter(F.col("w") == 0.5).count() / 1000
    assert abs(half - 0.5) < 0.06
    q = out.filter(F.col("w") == 2.25).count() / 1000
    assert abs(q - 2.25) < 0.06
    out.unpersist()


def test_semantic_dedup_transitive_vs_greedy(spark):
    """Planted triples (base, near-dup, slightly-farther near-dup) pin
    the relationship between the two survivor rules: the transitive
    (connected-component) rule is stricter-or-equal to the greedy
    smaller-id-neighbor rule, every planted group keeps at least one
    survivor, and each group's base vector (the component minimum)
    survives both."""
    import numpy as np

    from jobinsight_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(9)
    rows = []
    for i in range(20):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
        rows.append((100 + i, [float(x) for x in v + rng.standard_normal(16) * 0.01]))
        rows.append((200 + i, [float(x) for x in v + rng.standard_normal(16) * 0.015]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    greedy = {r["vec_id"]: r["kept"] for r in
              semantic_dedup(df, threshold=0.9, n_clusters=4, seed=5).collect()}
    trans = {r["vec_id"]: r["kept"] for r in
             semantic_dedup(df, threshold=0.9, n_clusters=4, seed=5,
                            transitive=True).collect()}
    assert set(greedy) == set(trans)
    kept_g = {k for k, v in greedy.items() if v}
    kept_t = {k for k, v in trans.items() if v}
    assert kept_t <= kept_g  # transitive is strictly stricter-or-equal
    assert len(kept_t) >= 20  # at least one survivor per planted triple
    # every base vector (i < 100) survives both rules: it is the min of
    # its planted group
    assert set(range(20)) <= kept_t


def test_vocab_encode_known_answers(spark):
    """Vocabulary ids are dense count-desc/token-asc ranks; encoding
    preserves token order, maps OOV to the sentinel, and min_count/
    max_size truncation behaves."""
    from jobinsight_data_pipeline_spark.operators.textstats import (
        build_vocab,
        encode_documents,
    )

    df = spark.createDataFrame(
        [(1, "b a b c b a rare"), (2, "a c c b")],
        "doc_id: long, text: string",
    )
    vocab = {r["token"]: (r["token_id"], r["count"])
             for r in build_vocab(df, "text", min_count=2).collect()}
    # counts: b=4, a=3, c=3 → ids 0,1,2 (count desc, token asc on the tie)
    assert vocab == {"b": (0, 4), "a": (1, 3), "c": (2, 3)}
    assert "rare" not in vocab  # min_count=2 dropped it

    enc = {r["doc_id"]: r for r in encode_documents(
        df, build_vocab(df, "text", min_count=2), "doc_id", "text").collect()}
    assert enc[1]["ids"] == [0, 1, 0, 2, 0, 1, -1]
    assert (enc[1]["n_tokens"], enc[1]["n_oov"]) == (7, 1)
    assert enc[2]["ids"] == [1, 2, 2, 0]
    assert enc[2]["n_oov"] == 0

    capped = build_vocab(df, "text", min_count=1, max_size=2)
    assert {r["token"] for r in capped.collect()} == {"b", "a"}


def test_materialize_packs_reassembles_stream(spark):
    """The materialized windows are exactly the concatenated id stream
    in doc order: every window except the tail holds capacity ids, the
    concatenation round-trips, and the bucketed offsets path emits
    bit-identical windows."""
    from jobinsight_data_pipeline_spark.operators.packing import (
        materialize_packs,
    )

    rows = [(i, list(range(i * 10, i * 10 + 3 + (i % 4)))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id: long, ids: array<int>")
    expect_stream = [x for _, ids in rows for x in ids]

    out = {r["seq_id"]: r for r in
           materialize_packs(df, capacity=16, bounds=[]).collect()}
    got_stream = []
    for s in sorted(out):
        r = out[s]
        assert r["n_tokens"] == len(r["ids"])
        if s != max(out):
            assert r["n_tokens"] == 16
        got_stream.extend(r["ids"])
    assert got_stream == expect_stream

    bucketed = {r["seq_id"]: list(r["ids"]) for r in
                materialize_packs(df, capacity=16, bounds=[10, 20, 30]).collect()}
    assert bucketed == {s: list(r["ids"]) for s, r in out.items()}


def test_pack_spans_known_answers_and_consistency(spark):
    """Span manifest: clipped (pack, doc) intersections with hand-
    computed answers (a doc straddling the boundary appears in both
    packs), Σ span_len per pack equals materialize_packs' n_tokens,
    and zero-token docs emit no span."""
    from jobinsight_data_pipeline_spark.operators.packing import (
        materialize_packs,
        pack_spans,
    )

    sized = spark.createDataFrame(
        [(0, 100), (1, 200), (2, 300), (3, 0)],
        "doc_id long, n_tokens long",
    )
    got = {
        (r["seq_id"], r["doc_id"]): (r["start_in_pack"], r["span_len"])
        for r in pack_spans(
            sized, "n_tokens", 256, ["doc_id"], bounds=[]
        ).collect()
    }
    assert got == {
        (0, 0): (0, 100),
        (0, 1): (100, 156),
        (1, 1): (0, 44),
        (1, 2): (44, 212),
        (2, 2): (0, 88),
    }
    # consistency with the token-materializing path on synthetic ids
    rows = [(i, list(range(3 + (i % 4)))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id: long, ids: array<int>")
    by_pack = {
        r["seq_id"]: r["n_tokens"]
        for r in materialize_packs(df, capacity=16, bounds=[]).collect()
    }
    sized2 = df.selectExpr("doc_id", "CAST(size(ids) AS LONG) AS n_tokens")
    spans = pack_spans(sized2, "n_tokens", 16, ["doc_id"], bounds=[])
    sums = {
        r["seq_id"]: r["total"]
        for r in spans.groupBy("seq_id")
        .agg(F.sum("span_len").alias("total"))
        .collect()
    }
    assert sums == by_pack
    # the bucketed distributed-offsets path emits identical spans
    key = lambda r: (r["seq_id"], r["doc_id"])  # noqa: E731
    direct = sorted(map(tuple, spans.collect()))
    bucketed = sorted(
        map(
            tuple,
            pack_spans(
                sized2, "n_tokens", 16, ["doc_id"], bounds=[10, 20, 30]
            ).collect(),
        )
    )
    assert bucketed == direct


def test_temperature_threshold_overflow_safe(spark):
    """temperature_weights computes (w_base, w_thr_tenk) in
    DECIMAL(38,0) — 128-bit exact, mirrored by HUGEINT in the oracle —
    because under ANSI mode the BIGINT form THROWS once tt·isqrt·10⁴
    nears 10¹⁸ (trillion-token sources with a ~10⁹ target; ADVICE r7).
    Pin the Spark DECIMAL(38,0) and DuckDB HUGEINT renderings against
    Python's arbitrary-precision integers across the domain, including
    the regime where every BIGINT intermediate overflows."""
    import duckdb

    cases = [
        (1, 1, 1, 1),
        (999, 31623, 32330, 10**9),
        (10**9, 10**6, 1031623, 10**12),  # tt·i·10⁴ ≈ 10¹⁹ > int64
        (10**12, 3 * 10**9, 3 * 10**9 + 5, (3 * 10**9) ** 2),
        (7, 1000, 1000, 999983),
    ]
    con = duckdb.connect()
    for tt, i, s, n in cases:
        base = (tt * i) // (s * n)
        thr = ((tt * i * 10000) // (s * n)) % 10000
        got = spark.sql(
            f"SELECT CAST((CAST({tt} AS DECIMAL(38,0)) * {i}) div "
            f"(CAST({s} AS DECIMAL(38,0)) * {n}) AS INT) AS b, "
            f"CAST(((CAST({tt} AS DECIMAL(38,0)) * {i} * 10000) div "
            f"(CAST({s} AS DECIMAL(38,0)) * {n})) % 10000 AS INT) AS t"
        ).first()
        duck = con.execute(
            f"SELECT CAST((CAST({tt} AS HUGEINT) * {i}) // "
            f"(CAST({s} AS HUGEINT) * {n}) AS INTEGER), "
            f"CAST(((CAST({tt} AS HUGEINT) * {i} * 10000) // "
            f"(CAST({s} AS HUGEINT) * {n})) % 10000 AS INTEGER)"
        ).fetchone()
        assert (got["b"], got["t"]) == (base, thr) == duck, (tt, i, s, n)
    tt, i, s, n = cases[2][:4]
    assert tt * i * 10000 > 2**63 - 1  # the BIGINT form would throw


def test_epoch_waterfill_known_answers(spark):
    """Hand-computed waterfill: budget 1800 (3/2 of 1200 total tokens),
    cap 2.0 epochs, equal weights — the two small sources freeze at the
    cap in round 1 and their surplus re-flows to the big one."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        epoch_waterfill,
    )

    src = spark.createDataFrame(
        [("a", 1000, 100), ("b", 100, 100), ("c", 100, 100)],
        "source string, n long, w long",
    )
    out = {
        r["source"]: (
            r["capped"], r["epochs_milli"], r["alloc_tokens"],
            r["converged"],
        )
        for r in epoch_waterfill(src, 3, 2, cap_milli=2000, rounds=4).collect()
    }
    assert out == {
        "a": (False, 1400, 1400, True),
        "b": (True, 2000, 200, True),
        "c": (True, 2000, 200, True),
    }
    assert sum(v[2] for v in out.values()) == 1800  # budget fully used
    # rounds=1: allocation identical (caps found in round 1, final
    # shares recomputed over the post-round set) but NOT converged —
    # the single round added caps
    one = {
        r["source"]: (r["alloc_tokens"], r["converged"])
        for r in epoch_waterfill(src, 3, 2, cap_milli=2000, rounds=1).collect()
    }
    assert one == {"a": (1400, False), "b": (200, False), "c": (200, False)}
    # degenerate: cap below everything -> all frozen, wsum 0 guarded
    allcap = {
        r["source"]: (r["capped"], r["alloc_tokens"])
        for r in epoch_waterfill(src, 3, 2, cap_milli=100, rounds=2).collect()
    }
    assert all(c for c, _ in allcap.values())
    assert allcap["a"] == (True, 100)  # 1000 tokens * 0.1 epochs
    import pytest

    with pytest.raises(ValueError, match="rounds"):
        epoch_waterfill(src, 3, 2, cap_milli=2000, rounds=0)


def test_vocab_encode_ignores_empty_documents(spark):
    """Empty/whitespace-only documents contribute ZERO tokens: no
    phantom '' enters the vocabulary and such docs emit nothing from
    encoding (the word_count contract)."""
    from jobinsight_data_pipeline_spark.operators.textstats import (
        build_vocab,
        encode_documents,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b a"), (4, None)],
        "doc_id: long, text: string",
    )
    vocab = build_vocab(df, "text", min_count=1)
    assert {r["token"] for r in vocab.collect()} == {"a", "b"}
    enc = {r["doc_id"]: r for r in
           encode_documents(df, vocab, "doc_id", "text").collect()}
    assert set(enc) == {3}
    assert enc[3]["ids"] == [0, 1, 0]


def test_url_canonicalization_known_answers(spark):
    """Tracking params stripped, remaining params sorted, scheme/host
    lowercased, default ports dropped, fragments dropped — reordered and
    tracked duplicates collide; explicit non-default ports and path case
    survive; non-URLs pass through with a NULL domain."""
    from jobinsight_data_pipeline_spark.operators.urls import (
        canonicalize_url,
        dedup_canonical_urls,
        url_domain,
    )

    df = spark.createDataFrame(
        [
            (1, "HTTPS://Example.COM:443/Path?b=2&utm_source=x&a=1#f"),
            (2, "https://example.com/Path?a=1&b=2"),
            (3, "plain text"),
            (4, "https://h.io:8443/UPPER?z=1"),
        ],
        "doc_id: long, url: string",
    )
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id",
        url_domain("url").alias("d"),
        canonicalize_url("url").alias("c"),
    ).collect()}
    assert rows[1]["c"] == rows[2]["c"] == "https://example.com/Path?a=1&b=2"
    assert rows[1]["d"] == "example.com"
    assert rows[3]["d"] is None and rows[3]["c"] == "plain text"
    assert rows[4]["c"] == "https://h.io:8443/UPPER?z=1"  # non-default port kept

    survivors = {r["canonical"]: (r["survivor_id"], r["dup_count"])
                 for r in dedup_canonical_urls(df).collect()}
    assert survivors["https://example.com/Path?a=1&b=2"] == (1, 2)


def test_filter_blocked_domains_both_paths(spark):
    """Literal-list and anti-join blocklists agree: exact domain and all
    subdomains drop, similar-but-different hosts and non-URLs survive."""
    from jobinsight_data_pipeline_spark.operators.urls import (
        filter_blocked_domains,
    )

    df = spark.createDataFrame(
        [
            (1, "https://spam.example.com/x"),
            (2, "https://example.com/y"),
            (3, "https://notexample.com/z"),  # suffix but NOT a subdomain
            (4, "not a url"),
            (5, "http://deep.sub.example.com/q"),
        ],
        "doc_id: long, url: string",
    )
    kept = sorted(r["doc_id"] for r in
                  filter_blocked_domains(df, ["Example.COM"]).collect())
    assert kept == [3, 4]
    bl = spark.createDataFrame([("example.com",)], "domain: string")
    kept2 = sorted(r["doc_id"] for r in filter_blocked_domains(df, bl).collect())
    assert kept2 == kept
    # exact-only mode keeps the subdomains
    kept3 = sorted(r["doc_id"] for r in filter_blocked_domains(
        df, ["example.com"], include_subdomains=False).collect())
    assert kept3 == [1, 3, 4, 5]


# --- round-5: hot-shingle cap, brute-force guard, reserved columns ---


@pytest.fixture()
def boiler_corpus(spark):
    """8 docs sharing a ubiquitous 6-token boilerplate header; docs 1/2
    also share real content; docs 3-8 are otherwise unique."""
    boiler = "b1 b2 b3 b4 b5 b6"
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    rows = [
        (1, f"{boiler} {shared}"),
        (2, f"{boiler} {shared} u2x u2y"),
    ] + [
        (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f")
        for i in range(3, 9)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_match_spans_anchor_cap_subset(boiler_corpus):
    """The anchor-frequency cap on exact_match_spans is lossy one-sided:
    capped matches ⊆ uncapped (boilerplate-anchored matches disappear,
    matches carried by rarer anchors survive), and the default cap is a
    no-op at test scale."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        exact_match_spans,
    )

    def pairs(cap):
        return {
            (r["doc_a"], r["start_a"], r["doc_b"], r["start_b"]): r["match_len"]
            for r in exact_match_spans(
                boiler_corpus, "doc_id", "text", k=3, min_len=6,
                max_anchor_freq=cap,
            ).collect()
        }

    exact = pairs(None)
    capped = pairs(3)
    default = pairs(100_000)
    # capped matches are CONTAINED in uncapped ones: dropping hot
    # anchors can truncate a span (the chain starts at the first
    # surviving anchor) but never invent or extend one — every capped
    # match sits inside an exact match on the same (docs, diagonal)
    for (da, sa, db, sb), ln in capped.items():
        assert any(
            ea == da and eb == db and esa - esb == sa - sb
            and esa <= sa and esa + eln >= sa + ln
            for (ea, esa, eb, esb), eln in exact.items()
        ), (da, sa, db, sb, ln)
    assert default == exact  # 1e5 cap is a no-op here
    # the 6-token boilerplate header duplicates across all 8 docs —
    # its anchors exceed cap 3, so boilerplate-only matches vanish
    assert any(k[1] == 0 and k[3] == 0 for k in exact)  # header matches
    assert not any(k[1] == 0 and k[3] == 0 for k in capped)
    # docs 1/2 share 6+8 contiguous tokens; the shared-content anchors
    # (frequency 2) survive the cap
    assert any(k[0] == 1 and k[2] == 2 for k in capped)


def test_ngram_freq_cap_subset(boiler_corpus):
    """The hot-shingle cap is lossy one-sided: capped pairs ⊆ uncapped,
    capped jaccard ≤ exact jaccard (denominators stay full-set), pairs
    whose overlap is ONLY boilerplate disappear, real overlap survives."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            boiler_corpus, "doc_id", "text", threshold=0.15, max_shingle_freq=None
        ).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            boiler_corpus, "doc_id", "text", threshold=0.15, max_shingle_freq=3
        ).collect()
    }
    assert set(capped) <= set(exact)
    assert all(capped[p] <= exact[p] for p in capped)
    assert (3, 4) in exact and (3, 4) not in capped  # boilerplate-only pair
    assert (1, 2) in capped  # real shared content survives the cap
    # the default cap (1e5) is a no-op at test scale → identical to exact
    default = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            boiler_corpus, "doc_id", "text", threshold=0.15
        ).collect()
    }
    assert default == exact


def test_ngram_containment_cap_subset(spark, boiler_corpus):
    """Train-side frequency cap: a test doc made ONLY of boilerplate is
    flagged uncapped (containment 1.0) but not under the cap; capped
    flags ⊆ uncapped flags."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    test_docs = spark.createDataFrame(
        [(100, "b1 b2 b3 b4 b5 b6")], "doc_id long, text string"
    )
    uncapped = {
        (r["test_id"], r["train_id"])
        for r in ngram_containment_pairs(
            boiler_corpus, test_docs, "doc_id", "text",
            threshold=0.8, max_shingle_freq=None,
        ).collect()
    }
    capped = {
        (r["test_id"], r["train_id"])
        for r in ngram_containment_pairs(
            boiler_corpus, test_docs, "doc_id", "text",
            threshold=0.8, max_shingle_freq=3,
        ).collect()
    }
    assert capped <= uncapped
    assert any(t == 100 for t, _ in uncapped)  # boilerplate doc flagged exact
    assert not capped  # cap drops the ubiquitous shingles → no candidates


def test_brute_force_guard(spark):
    """cosine_topk / cosine_near_pairs refuse corpus-scale inputs and
    point at the bucketed siblings; max_rows=None is the escape hatch."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="lsh_cosine_topk"):
        cosine_topk(emb, emb.limit(1), k=2, max_rows=3)
    with pytest.raises(ValueError, match="lsh_cosine_near_pairs"):
        cosine_near_pairs(emb, threshold=0.9, max_rows=3)
    assert cosine_topk(emb, emb.limit(1), k=2, max_rows=None).count() > 0
    assert cosine_topk(emb, emb.limit(1), k=2).count() > 0  # default ceiling


def test_reserved_column_collision(spark):
    """Operators that emit working columns refuse inputs already carrying
    those names instead of silently replacing them."""
    from jobinsight_data_pipeline_spark.operators.packing import shuffle_shard
    from jobinsight_data_pipeline_spark.operators.sampling import weighted_sample

    bad = spark.createDataFrame([(1, 0)], "doc_id long, shard int")
    with pytest.raises(ValueError, match="shuffle_shard reserves"):
        shuffle_shard(bad, "doc_id", 8)
    bad2 = spark.createDataFrame([(1, 2.0, 9)], "doc_id long, w double, copy int")
    with pytest.raises(ValueError, match="explode_copies reserves"):
        weighted_sample(bad2, "w", "doc_id")


def test_weighted_sample_clamps_huge_weight(spark):
    """A corrupt giant weight degrades to the documented ceiling instead
    of throwing ANSI int overflow or detonating the explode."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        MAX_SAMPLE_WEIGHT,
        weighted_sample,
    )

    df = spark.createDataFrame([(1, 5.0e9)], "doc_id long, w double")
    assert weighted_sample(df, "w", "doc_id").count() == MAX_SAMPLE_WEIGHT


def test_winnow_fingerprints_exact_and_guarantee(spark):
    """Winnowing matches a literal Python reference (hash values,
    positions, rightmost tie-break) and honors the SIGMOD'03 guarantee:
    two docs sharing a token run of length >= k + window - 1 share at
    least one selected fingerprint."""
    import hashlib

    from jobinsight_data_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
    )

    k, w = 3, 4

    def ref(tokens):
        hs = [
            int(
                hashlib.md5(" ".join(tokens[i : i + k]).encode()).hexdigest()[:15],
                16,
            )
            for i in range(len(tokens) - k + 1)
        ]
        sel = set()
        for t in range(w - 1, len(hs)):
            lo = t - w + 1
            m = min(hs[lo : t + 1])
            p = max(i for i in range(lo, t + 1) if hs[i] == m)  # rightmost
            sel.add((p, m))
        return sel

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens >= k+w-1
    texts = {
        1: "one two three four five six seven " + shared,
        2: shared + " eight nine ten eleven twelve",
        3: "rep rep rep rep rep rep rep rep",  # tie-break stress
        4: "too short",  # < k tokens -> no fingerprints
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, "doc_id", "text", k=k, window=w).collect():
        got.setdefault(r["doc"], set()).add((r["fp_pos"], r["fp"]))
    for i, t in texts.items():
        toks = t.split()
        expect = ref(toks) if len(toks) >= k + w - 1 else set()
        assert got.get(i, set()) == expect, (i, got.get(i), expect)
    fps1 = {fp for _, fp in got[1]}
    fps2 = {fp for _, fp in got[2]}
    assert fps1 & fps2  # shared run guarantees a common fingerprint


def test_winnow_overlap_pairs(spark):
    """Docs sharing a run >= k+window-1 pair up with the exact shared-
    fingerprint count of the Python reference; unrelated docs don't;
    min_shared filters."""
    import hashlib

    from jobinsight_data_pipeline_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    k, w = 3, 4

    def ref_fps(tokens):
        hs = [
            int(
                hashlib.md5(" ".join(tokens[i : i + k]).encode()).hexdigest()[:15],
                16,
            )
            for i in range(len(tokens) - k + 1)
        ]
        sel = set()
        for t in range(w - 1, len(hs)):
            sel.add(min(hs[t - w + 1 : t + 1]))
        return sel

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        1: "one two three four five " + shared,
        2: shared + " six seven eight nine ten",
        3: "totally unrelated content with different words entirely here now",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in winnow_overlap_pairs(
            df, "doc_id", "text", k=k, window=w, min_shared=1
        ).collect()
    }
    expect12 = len(ref_fps(texts[1].split()) & ref_fps(texts[2].split()))
    assert got.get((1, 2)) == expect12 and expect12 >= 1
    assert not any(3 in p for p in got)
    high = winnow_overlap_pairs(
        df, "doc_id", "text", k=k, window=w, min_shared=expect12 + 1
    ).count()
    assert high == 0


# ---------------------------------------------------------------------------
# BM25 ranking
# ---------------------------------------------------------------------------
def test_bm25_matches_python_reference(spark):
    """Score a tiny corpus and replay the exact arithmetic in Python:
    quantized idf (round(ln, 6)), Lucene non-negative idf form,
    left-to-right term summation."""
    import math

    from jobinsight_data_pipeline_spark.operators.ranking import bm25_scores

    docs = {
        1: "cat dog cat bird",
        2: "dog dog dog fish fish",
        3: "bird bird bird bird cat",
        4: "fish",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    terms = ["cat", "dog"]
    got = {
        r["doc_id"]: (r["dl"], r["tf_0"], r["tf_1"], r["score"])
        for r in bm25_scores(df, terms).collect()
    }

    toks = {i: t.split() for i, t in docs.items()}
    n = float(len(docs))
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = 1.2, 0.75
    for i, t in toks.items():
        dl, tf0, tf1, score = got[i]
        assert dl == len(t)
        exp = 0.0
        for j, (term, tf) in enumerate([("cat", tf0), ("dog", tf1)]):
            assert tf == t.count(term)
            dfreq = float(sum(1 for tt in toks.values() if term in tt))
            idf = round(math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6)
            exp = exp + idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        assert abs(score - exp) < 1e-12, (i, score, exp)


def test_bm25_topk_deterministic_tiebreak(spark):
    from jobinsight_data_pipeline_spark.operators.ranking import bm25_topk

    # identical docs → identical scores → tie broken by doc_id ascending
    df = spark.createDataFrame(
        [(i, "same words here") for i in range(20)], "doc_id long, text string"
    )
    top = bm25_topk(df, ["words"], k=5).select("doc_id").collect()
    assert [r["doc_id"] for r in top] == [0, 1, 2, 3, 4]


def test_bm25_rejects_bad_queries(spark):
    import pytest as _pytest

    from jobinsight_data_pipeline_spark.operators.ranking import bm25_scores

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bm25_scores(df, [])
    with _pytest.raises(ValueError):
        bm25_scores(df, ["a", "a"])


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup
# ---------------------------------------------------------------------------
def test_dedup_paragraphs_keep_first(spark):
    from jobinsight_data_pipeline_spark.operators.textstats import (
        dedup_paragraphs,
    )

    rows = [
        (1, "unique one\nBOILER\nunique two"),
        (2, "BOILER\nother text"),
        (3, "third doc\nBOILER"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_dropped"])
        for r in dedup_paragraphs(df, mode="keep_first").collect()
    }
    # globally first occurrence (doc 1, pos 1) survives; later ones drop
    assert got[1] == ("unique one\nBOILER\nunique two", 3, 0)
    assert got[2] == ("other text", 2, 1)
    assert got[3] == ("third doc", 2, 1)


def test_dedup_paragraphs_drop_common_and_blanks(spark):
    from jobinsight_data_pipeline_spark.operators.textstats import (
        dedup_paragraphs,
    )

    # BOILER appears in 3 distinct docs (> max_df=2) → dropped everywhere,
    # including all copies inside doc 1; blank lines always survive
    rows = [
        (1, "a\n\nBOILER\nBOILER"),
        (2, "BOILER\nb"),
        (3, "c\nBOILER"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_dropped"])
        for r in dedup_paragraphs(df, mode="drop_common", max_df=2).collect()
    }
    assert got[1] == ("a\n", 4, 2)
    assert got[2] == ("b", 2, 1)
    assert got[3] == ("c", 2, 1)
    assert got[4] == ("", 1, 0)  # empty text: one blank paragraph, kept


def test_dedup_paragraphs_trim_identity_but_verbatim_output(spark):
    """Identity is md5(trim(para)) — '  BOILER ' and 'BOILER' dedup
    together — but the SURVIVING occurrence is emitted verbatim."""
    from jobinsight_data_pipeline_spark.operators.textstats import (
        dedup_paragraphs,
    )

    rows = [(1, "  BOILER \nx"), (2, "BOILER\ny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in dedup_paragraphs(df, mode="keep_first").collect()
    }
    assert got[1] == "  BOILER \nx"
    assert got[2] == "y"


def test_dedup_paragraphs_rejects_bad_mode(spark):
    import pytest as _pytest

    from jobinsight_data_pipeline_spark.operators.textstats import (
        dedup_paragraphs,
    )

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        dedup_paragraphs(df, mode="nope")
    with _pytest.raises(ValueError):
        dedup_paragraphs(df, mode="drop_common")  # max_df required


def test_bm25_index_path_bit_identical_to_scan(spark):
    """The inverted-index query route must reproduce the scan route's
    doubles BIT-FOR-BIT for every doc with ≥1 hit (the pivot pins float
    summation order); zero-hit docs are absent from the index route by
    contract."""
    from jobinsight_data_pipeline_spark.operators.ranking import (
        bm25_scores,
        bm25_topk_indexed,
        build_inverted_index,
    )

    rows = [
        (1, "cat dog cat bird"),
        (2, "dog dog dog fish fish"),
        (3, "bird bird bird bird cat"),
        (4, "fish only here"),  # zero hits for the query below
        (5, "cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["cat", "dog"]

    scan = {
        r["doc_id"]: (r["dl"], r["tf_0"], r["tf_1"], r["score"])
        for r in bm25_scores(df, terms).collect()
    }
    postings, lens = build_inverted_index(df)
    idx = {
        r["doc"]: (r["dl"], r["tf_0"], r["tf_1"], r["score"])
        for r in bm25_topk_indexed(postings, lens, terms, k=10).collect()
    }
    assert set(idx) == {1, 2, 3, 5}  # doc 4 has no query-term postings
    for d, vals in idx.items():
        assert vals == scan[d], (d, vals, scan[d])  # exact, incl. doubles


def test_ivf_pq_indexed_bit_identical_to_oneshot(spark, tmp_path):
    """build_ivf_pq_index + ivf_pq_topk_indexed (through a cell-partitioned
    parquet round-trip, the real serving layout) must reproduce the
    one-shot ivf_pq_topk EXACTLY — ids, order, and ADC doubles — for
    several queries probing different cell sets."""
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk,
        ivf_pq_topk_indexed,
        pq_codebooks,
        unit_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = unit_centroids(64, 16, seed=11)
    cb = pq_codebooks()
    path = str(tmp_path / "idx")
    build_ivf_pq_index(emb, cents, cb).repartition("cell").write.partitionBy(
        "cell"
    ).parquet(path)
    index = spark.read.parquet(path)

    for qid in (0, 7, 23):
        query = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]
        ]
        oneshot = [
            (r["vec_id"], r["adc"])
            for r in ivf_pq_topk(emb, query, cents, cb, k=8, n_probe=3).collect()
        ]
        served = [
            (r["vec_id"], r["adc"])
            for r in ivf_pq_topk_indexed(
                index, query, cents, cb, k=8, n_probe=3
            ).collect()
        ]
        assert served == oneshot, (qid, served, oneshot)


def test_ivf_pq_many_bit_identical_to_single_route(spark):
    """The batched in-engine serving path (in-engine probe selection,
    direct per-pair ADC) must reproduce the single-query indexed route
    EXACTLY — same ids, ranks, and ADC doubles — for every query in the
    batch (the accumulation-order contract)."""
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_indexed,
        ivf_pq_topk_many,
        pq_codebooks,
        unit_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents, cb = unit_centroids(64, 16, seed=11), pq_codebooks()
    index = build_ivf_pq_index(emb, cents, cb)
    qids = (0, 7, 23)
    queries = emb.filter(F.col("vec_id").isin(*qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    many = {}
    for r in ivf_pq_topk_many(index, queries, cents, cb, k=8, n_probe=3).collect():
        many.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["adc"])
        )
    for qid in qids:
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]
        ]
        single = [
            (i + 1, r["vec_id"], r["adc"])
            for i, r in enumerate(
                ivf_pq_topk_indexed(
                    index, qv, cents, cb, k=8, n_probe=3
                ).collect()
            )
        ]
        assert sorted(many[qid]) == single, (qid, many[qid], single)


def test_ivf_pq_residual_routes_bit_identical(spark, tmp_path):
    """The IVFADC residual route (residual=True on build+serve) must be
    internally consistent across all three serving shapes — oneshot,
    indexed-through-parquet, and batched many — same ids, order, and
    ADC doubles; and it must genuinely differ from the raw route (the
    codes live in residual space)."""
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk,
        ivf_pq_topk_indexed,
        ivf_pq_topk_many,
        pq_codebooks,
        unit_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents, cb = unit_centroids(64, 16, seed=11), pq_codebooks()
    path = str(tmp_path / "ridx")
    build_ivf_pq_index(emb, cents, cb, residual=True).repartition(
        "cell"
    ).write.partitionBy("cell").parquet(path)
    index = spark.read.parquet(path)
    qids = (0, 7, 23)
    queries = emb.filter(F.col("vec_id").isin(*qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    many = {}
    for r in ivf_pq_topk_many(
        index, queries, cents, cb, k=8, n_probe=3, residual=True
    ).collect():
        many.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["adc"])
        )
    for qid in qids:
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]
        ]
        single = [
            (i + 1, r["vec_id"], r["adc"])
            for i, r in enumerate(
                ivf_pq_topk_indexed(
                    index, qv, cents, cb, k=8, n_probe=3, residual=True
                ).collect()
            )
        ]
        oneshot = [
            (i + 1, r["vec_id"], r["adc"])
            for i, r in enumerate(
                ivf_pq_topk(
                    emb, qv, cents, cb, k=8, n_probe=3, residual=True
                ).collect()
            )
        ]
        assert sorted(many[qid]) == single, (qid, many[qid], single)
        assert oneshot == single, (qid, oneshot, single)
        raw = [
            (i + 1, r["vec_id"], r["adc"])
            for i, r in enumerate(
                ivf_pq_topk(emb, qv, cents, cb, k=8, n_probe=3).collect()
            )
        ]
        assert raw != single, "residual route should differ from raw"


def test_pq_residual_error_gain_positive(spark):
    """The pinned IVFADC claim: with the data-fitted coarse quantizer,
    residual-space PQ error is strictly below raw-space error (the
    §IV variance-removal argument), at every tested SF."""
    from jobinsight_data_pipeline_spark.catalog.textml import (
        q_pq_residual_error,
    )

    row = q_pq_residual_error(spark, "/root/testdata/sf0.001").head()
    assert row["residual_err_micro"] < row["raw_err_micro"], row
    assert row["gain_ppm"] > 0, row
    assert row["n_vectors"] == 500, row
    # the r12 trained-books column: residual-TRAINED books must beat
    # both raw encoding AND the seeded books by a wide margin (measured
    # ~25-30% vs ~3.5-4.6% across all three SFs)
    assert row["trained_err_micro"] < row["residual_err_micro"], row
    assert row["trained_gain_ppm"] > row["gain_ppm"], row
    assert row["trained_gain_ppm"] > 100_000, row  # >10% pinned


def test_train_pq_codebooks_residual_matches_python_reference(spark):
    """train_pq_codebooks_residual replayed by an independent pure-
    Python implementation (argmax-dot assignment, double residuals,
    floor-quantize +2·scale shift, lowest-id seeding, (d, cell)
    tie-break, round-half-up integer means, empty-cell carry-forward)
    — the in-process twin of the DuckDB oracle replay, catching any
    drift between the fused one-job-per-iteration Spark form and the
    recipe it claims to run."""
    from jobinsight_data_pipeline_spark.catalog.textml import (
        _KMEANS_SCALE,
        _kmeans_centroids,
    )
    from jobinsight_data_pipeline_spark.operators.clustering import (
        train_pq_codebooks_residual,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    fitted = _kmeans_centroids(spark, sf)
    cents = [[x / _KMEANS_SCALE for x in row] for row in fitted]
    m, k, iters, dim, scale = 8, 16, 2, 64, _KMEANS_SCALE
    sub = dim // m
    books = train_pq_codebooks_residual(
        emb, cents, m=m, k=k, iterations=iters, dim=dim, scale=scale
    )

    import math

    rows = sorted(
        emb.where("embedding IS NOT NULL").collect(),
        key=lambda r: r["vec_id"],
    )
    shift = 2 * scale
    quant = []
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        dots = [sum(v[t] * c[t] for t in range(dim)) for c in cents]
        cell = dots.index(max(dots))  # first occurrence = lowest index
        resid = [v[t] - cents[cell][t] for t in range(dim)]
        quant.append(
            [int(math.floor(x * scale)) + shift for x in resid]
        )
    ref = [
        [quant[r][j * sub : (j + 1) * sub] for r in range(k)]
        for j in range(m)
    ]  # lowest-vec_id seeding (rows sorted by vec_id)
    for _ in range(iters):
        sums = [
            [[0] * sub for _ in range(k)] for _ in range(m)
        ]
        counts = [[0] * k for _ in range(m)]
        for p in quant:
            for j in range(m):
                sv = p[j * sub : (j + 1) * sub]
                ds = [
                    sum((sv[t] - c[t]) ** 2 for t in range(sub))
                    for c in ref[j]
                ]
                cell = ds.index(min(ds))
                counts[j][cell] += 1
                for t in range(sub):
                    sums[j][cell][t] += sv[t]
        for j in range(m):
            for cell in range(k):
                n = counts[j][cell]
                if n:  # empty cells carry forward
                    ref[j][cell] = [
                        (2 * sums[j][cell][t] + n) // (2 * n)
                        for t in range(sub)
                    ]
    ref_unshifted = [
        [[x - shift for x in c] for c in book] for book in ref
    ]
    assert books == ref_unshifted


def test_ann_probe_curves_non_degenerate_on_clustered_corpus(spark):
    """The r11 verdict order-#4 Done criterion: on the clustered eval
    corpus, BOTH probe curves show real recall separation across probe
    widths — mean recall strictly grows probe 1 → 4, the full 1 → 8
    spread is ≥ 1.5×, and no cell is degenerate (0 or saturated).
    Recall need NOT be monotone at the widest probe: extra probed
    candidates can push a rank-9 true neighbor out of the ADC top-10
    (measured: the residual route dips 58.8 → 56.2 at sf0.001), so
    only the structural claims are pinned."""
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.catalog.textml import (
        q_ann_probe_curve,
        q_ann_probe_residual,
    )

    for fn in (q_ann_probe_curve, q_ann_probe_residual):
        rows = (
            fn(spark, "/root/testdata/sf0.001")
            .groupBy("n_probe")
            .agg(F.avg("recall_micro").alias("r"))
            .collect()
        )
        mean = {r["n_probe"]: r["r"] for r in rows}
        assert set(mean) == {1, 2, 4, 8}, mean
        assert mean[1] < mean[2] < mean[4], (fn.__name__, mean)
        assert mean[8] >= 1.5 * mean[1], (fn.__name__, mean)
        for p, v in mean.items():
            assert 0 < v < 1_000_000, (fn.__name__, p, v)


def test_lsh_params_autotune_formula():
    """lsh_params_for picks the largest feasible bits-per-band and a
    band count meeting the recall target within one packed long."""
    import math

    from jobinsight_data_pipeline_spark.operators.similarity import (
        lsh_params_for,
    )

    for t in (0.3, 0.4, 0.6, 0.8, 0.9, 0.95):
        n_planes, bands = lsh_params_for(t)
        r = n_planes // bands
        assert n_planes == bands * r and n_planes <= 64
        p = 1.0 - math.acos(t) / math.pi
        recall = 1.0 - (1.0 - p**r) ** bands
        assert recall >= 0.95, (t, n_planes, bands, recall)
        # maximality: one more bit per band would not fit 64 planes
        q2 = p ** (r + 1)
        b2 = math.ceil(math.log(0.05) / math.log(1.0 - q2))
        assert b2 * (r + 1) > 64, (t, r, b2)
    assert lsh_params_for(0.4) == (33, 11)


def test_lsh_near_pairs_tight_threshold_planted_recall(spark):
    """At a production near-dup threshold the autotuned bands must find
    planted high-cosine pairs: 40 base vectors plus a slightly-noised
    twin each (cos ≈ 0.995) — recall 1.0 expected, precision 1.0 by
    construction (exact verify)."""
    import numpy as np

    from jobinsight_data_pipeline_spark.operators.similarity import (
        lsh_cosine_near_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 64))
    rows = []
    for i, v in enumerate(base):
        twin = v + 0.05 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in twin]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_cosine_near_pairs(df, threshold=0.9).collect()
    }
    planted = {(i, 1000 + i) for i in range(40)}
    assert planted <= pairs, planted - pairs
    # anything extra must be a genuine >=0.9 pair; base vectors are
    # near-orthogonal so none exist
    assert pairs == planted, pairs - planted


def test_exact_dedup_keep_best_survivor_rule(spark):
    """Highest score survives; score ties fall to the min id; the plan
    is ONE partial-aggregating groupBy (argmax rides in the aggregate —
    no window, no second shuffle)."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        exact_dedup_keep_best,
    )

    rows = [
        (1, "same text here", 5),
        (2, "same text here", 9),    # highest score -> survivor
        (3, "same text here", 9),    # tie with 2 -> min id 2 wins
        (4, "other text", 1),
        (5, "third text", 0),
        (6, "third text", 0),        # tie -> min id 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    got = {
        r["survivor_id"]: (r["survivor_score"], r["dup_count"])
        for r in exact_dedup_keep_best(df, "doc_id", "text", "q").collect()
    }
    assert got == {2: (9, 3), 4: (1, 1), 5: (0, 2)}, got
    plan = (
        exact_dedup_keep_best(df, "doc_id", "text", "q")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    # struct max plans as SortAggregate (structs aren't hash-aggregable)
    # but still partial+final — map-side combine survives
    agg = plan.count("SortAggregate") + plan.count("HashAggregate")
    assert agg >= 2, plan


def test_prototype_prune_policies_and_counts(spark):
    """Per-cell drop counts are exactly floor(f·|cell|); keep='hard'
    drops the HIGHEST-sim (most prototypical) ids, keep='easy' the
    lowest; f=0 drops nothing; bad args raise."""
    import pytest as _pytest

    from jobinsight_data_pipeline_spark.operators.similarity import (
        prototype_prune,
        unit_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = unit_centroids(64, 8, seed=11)
    hard = prototype_prune(emb, cents, drop_fraction=0.25, keep="hard")
    rows = hard.collect()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        dropped = [r for r in rs if r["pruned"]]
        assert len(dropped) == (len(rs) * 250000) // 1000000, cell
        if dropped:
            # every dropped sim >= every kept sim (ties -> id order)
            min_drop = min(r["sim_micro"] for r in dropped)
            max_keep = max(
                (r["sim_micro"] for r in rs if not r["pruned"]), default=None
            )
            if max_keep is not None:
                assert min_drop >= max_keep, (cell, min_drop, max_keep)
    easy = prototype_prune(emb, cents, drop_fraction=0.25, keep="easy")
    for r in easy.collect():
        pass  # smoke: runs and is well-formed
    none = prototype_prune(emb, cents, drop_fraction=0.0)
    assert none.filter("pruned").count() == 0
    with _pytest.raises(ValueError, match="keep must be"):
        prototype_prune(emb, cents, keep="both")
    with _pytest.raises(ValueError, match="drop_fraction"):
        prototype_prune(emb, cents, drop_fraction=1.0)


def test_incremental_semantic_dedup_planted_and_stable(spark):
    """Embedding day-2 dedup: exact copies of history vectors are
    near_dup with >=1 history match; a far-from-everything vector is
    kept; results identical under repartitioning; appending the kept
    batch rows to state then re-running drops every batch doc."""
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_semantic_state,
        incremental_semantic_dedup,
        unit_centroids,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    cents = unit_centroids(64, 8, seed=11)
    day1 = emb.filter("vec_id < 100")
    copies = day1.filter("vec_id % 20 = 0").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    batch = emb.filter("vec_id >= 100 AND vec_id < 200").unionByName(copies)
    state = build_semantic_state(day1, cents)
    res = incremental_semantic_dedup(batch, state, cents, threshold=0.4)
    plants = {
        r["vec_id"]: (r["status"], r["n_hist_matches"])
        for r in res.filter("vec_id >= 1000000").collect()
    }
    assert plants and all(
        s == "near_dup" and n >= 1 for s, n in plants.values()
    ), plants
    # relayout stability
    res2 = incremental_semantic_dedup(
        batch.repartition(13), state.repartition(7), cents, threshold=0.4
    )
    assert {tuple(r) for r in res.collect()} == {
        tuple(r) for r in res2.collect()
    }
    # append kept rows -> rerun -> everything is a near_dup of itself
    kept_ids = [r["vec_id"] for r in res.filter("status = 'kept'").collect()]
    assert kept_ids
    kept_vecs = batch.join(
        spark.createDataFrame([(i,) for i in kept_ids], "vec_id long"),
        "vec_id",
        "left_semi",
    )
    appended = state.unionByName(build_semantic_state(kept_vecs, cents))
    rerun = incremental_semantic_dedup(batch, appended, cents, threshold=0.4)
    assert rerun.filter("status = 'kept'").count() == 0


def test_incremental_dedup_planted_statuses(spark):
    """Every planted class lands on its expected status, in both hash
    modes (xxhash64 production / md5 oracle twin)."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup,
    )

    day1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "spark makes distributed data processing simple and fast"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "the quick brown fox jumps over the lazy dog today zz"),
            # long base: ~19/21-shingle overlap for the near plant, so
            # BOTH hash modes band-collide (a short base at jaccard
            # ~0.75 missed banding in xxhash64 mode — bands are
            # probabilistic in the similarity, deterministic in the hash)
            (12, "completely different content about machine learning"
                 " models and their training pipelines with many tokens"
                 " of filler text here"),
            (13, "completely different content about machine learning"
                 " models and their training pipelines with many tokens"
                 " of filler text here"),
            (14, "completely different content about machine learning"
                 " models and their training pipelines with many tokens"
                 " of filler text here yy"),
            (15, "short doc"),
            (16, "tiny new"),
        ],
        "doc_id long, text string",
    )
    expect = {
        10: "exact_dup",   # exact vs history
        11: "near_dup",    # near vs history
        12: "kept",
        13: "exact_dup",   # exact vs smaller batch doc
        14: "near_dup",    # near vs smaller batch doc
        15: "exact_dup",   # short doc, hash-only path
        16: "kept",
    }
    for mode in ("xxhash64", "md5"):
        state = build_dedup_state(day1, hash_mode=mode)
        got = {
            r["doc_id"]: r["status"]
            for r in incremental_dedup(day2, state, hash_mode=mode).collect()
        }
        assert got == expect, (mode, got)


def test_incremental_dedup_append_then_rerun_drops_everything(spark):
    """The day-3 invariant: append the KEPT docs' state rows to the
    snapshot (append-only, the bucket_manifest discipline), then re-run
    the same batch — every row must now be a duplicate (its own content
    is in history), and the state is append-stable: rebuilding from
    scratch over day1 ∪ kept equals the appended union exactly."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    day1 = docs.filter("doc_id < 100")
    batch = docs.filter("doc_id >= 100 AND doc_id < 200")
    state = build_dedup_state(day1)
    res = incremental_dedup(batch, state)
    kept_ids = [r["doc_id"] for r in res.filter("status = 'kept'").collect()]
    assert kept_ids, "batch produced no kept docs — split is degenerate"
    kept_docs = batch.join(
        spark.createDataFrame([(i,) for i in kept_ids], "doc_id long"),
        "doc_id",
        "left_semi",
    )
    appended = state.unionByName(build_dedup_state(kept_docs))
    rerun = incremental_dedup(batch, appended)
    assert rerun.filter("status = 'kept'").count() == 0
    # append-stability: same rows as a from-scratch rebuild
    rebuilt = build_dedup_state(day1.unionByName(kept_docs))
    assert appended.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(appended).count() == 0


def test_incremental_dedup_relayout_stable(spark):
    """Statuses are a pure function of content — identical under any
    partitioning of batch or state."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    day1, batch = docs.filter("doc_id < 100"), docs.filter("doc_id >= 100")
    state = build_dedup_state(day1)
    a = {
        (r["doc_id"], r["status"])
        for r in incremental_dedup(batch, state).collect()
    }
    b = {
        (r["doc_id"], r["status"])
        for r in incremental_dedup(
            batch.repartition(17), state.repartition(5)
        ).collect()
    }
    assert a == b


def test_bpe_trainer_matches_python_reference(spark):
    """The distributed trainer (weighted word table, per-round pair
    count + argmax + merge) must produce the EXACT merge sequence of the
    independent dict-based Python reference, including counts and
    tie-breaks, on the real corpus AND a tie-heavy fixture."""
    from jobinsight_data_pipeline_spark.operators.bpe import (
        learn_bpe_merges,
        learn_bpe_merges_py,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = learn_bpe_merges(docs, n_merges=6)
    ref = learn_bpe_merges_py([r["text"] for r in docs.collect()], 6)
    assert got == ref, (got, ref)

    # tie-heavy: every pair count equal -> lexicographic tie-break decides
    tie = spark.createDataFrame(
        [(1, "ab cd ab cd"), (2, "ba dc ba dc")], "doc_id long, text string"
    )
    got_t = learn_bpe_merges(tie, n_merges=3, min_pair_count=1)
    ref_t = learn_bpe_merges_py(["ab cd ab cd", "ba dc ba dc"], 3, 1)
    assert got_t == ref_t, (got_t, ref_t)
    # early stop below min_pair_count
    tiny = spark.createDataFrame([(1, "xy")], "doc_id long, text string")
    assert learn_bpe_merges(tiny, n_merges=5, min_pair_count=2) == []


def test_bpe_learned_merges_compose_with_encoder(spark):
    """learn → encode is a closed loop: the learned table validates as
    well-formed, feeds bpe_encode, and compresses the corpus it was
    trained on (fewer ids than char-level)."""
    from jobinsight_data_pipeline_spark.operators.bpe import (
        bpe_encode,
        learn_bpe_merges,
        validate_merges,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    learned = learn_bpe_merges(docs, n_merges=8)
    pairs = [(lft, r) for lft, r, _ in learned]
    validate_merges(pairs)
    total = bpe_encode(docs, merges=pairs).selectExpr("sum(n_ids)").head()[0]
    char_total = bpe_encode(docs, merges=[]).selectExpr("sum(n_ids)").head()[0]
    assert total < char_total, (total, char_total)


def test_bpe_encode_matches_python_reference(spark):
    """The native replace-chain encoder must equal the independent
    symbol-list Python reference on adversarial inputs: overlapping
    merge runs, delimiter chars in the text, merge-prefix collisions
    ('tab' vs 'table'), unknown chars, whitespace shapes."""
    from jobinsight_data_pipeline_spark.operators.bpe import (
        bpe_encode,
        bpe_encode_py,
    )

    rows = [
        (1, "the data join scan merge batch sort key query"),
        (2, "group row window spark filter stream table agg"),
        (3, "ggg gggg aaa ananan thethe"),        # overlapping merge runs
        (4, "tab table tables stables"),          # prefix collisions
        (5, "a\x1eb\x1fc"),                       # reserved delimiters stripped
        (6, "  \t mixed\nwhitespace\r\n here "),
        (7, "café ☃ unknown"),          # non-ASCII → -1
        (8, ""),
        (9, "   "),
        (10, "q u e r y vs query"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (list(r["ids"]), r["n_ids"])
        for r in bpe_encode(df).collect()
    }
    for d, t in rows:
        ref = bpe_encode_py(t)
        assert got[d] == (ref, len(ref)), (d, t, got[d], ref)

    # distributed decode matches the Python decoder (incl. UNK ids)
    from jobinsight_data_pipeline_spark.operators.bpe import (
        bpe_decode_column,
        bpe_decode_py,
    )

    dec = {
        r["doc_id"]: r["decoded"]
        for r in bpe_encode(df)
        .select("doc_id", bpe_decode_column("ids").alias("decoded"))
        .collect()
    }
    for d, t in rows:
        assert dec[d] == bpe_decode_py(bpe_encode_py(t)), (d, t, dec[d])


def test_bpe_merges_validation():
    from jobinsight_data_pipeline_spark.operators.bpe import (
        DEFAULT_MERGES,
        bpe_vocab,
        validate_merges,
    )
    import pytest as _pytest

    validate_merges(DEFAULT_MERGES)  # the shipped table is well-formed
    with _pytest.raises(ValueError, match="neither a base symbol"):
        validate_merges([("ab", "c")])  # 'ab' never produced
    with _pytest.raises(ValueError, match="duplicate merge output"):
        validate_merges(
            [("a", "b"), ("b", "c"), ("ab", "c"), ("a", "bc")]
        )  # both later merges produce 'abc'
    # ids: base chars stable, merge outputs sequential after them
    v = bpe_vocab([("a", "b")])
    assert v["!"] == 0 and v["ab"] == 94


def test_bpe_common_corpus_words_single_token():
    """The default merges table exists to compress this corpus's
    vocabulary — every frequent word must encode to ONE subword id."""
    from jobinsight_data_pipeline_spark.operators.bpe import (
        bpe_decode_py,
        bpe_encode_py,
    )

    words = (
        "the data join scan merge batch sort key query group row "
        "window spark filter stream table agg"
    ).split()
    for w in words:
        ids = bpe_encode_py(w)
        assert len(ids) == 1 and ids[0] >= 94, (w, ids)
        assert bpe_decode_py(ids) == w


def test_bigram_logprob_matches_python_reference(spark):
    """Replay the interpolated bigram LM in pure Python (math.log,
    floor micro-quantization) and require exact integer equality."""
    import math
    from collections import Counter

    from jobinsight_data_pipeline_spark.operators.textstats import (
        bigram_logprob,
    )

    docs = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "a dog sat",
        4: "single",          # <2 tokens → absent from result
        5: "\t the  cat ",    # empty tokens squeezed before pairing
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_scored"], r["sum_lp_micro"])
        for r in bigram_logprob(df, "doc_id").collect()
    }

    toks = {i: t.lower().split() for i, t in docs.items()}
    uni = Counter(w for t in toks.values() for w in t)
    tot, v = sum(uni.values()), len(uni)
    big = Counter(
        (t[j - 1], t[j]) for t in toks.values() for j in range(1, len(t))
    )
    prev = Counter()
    for (p, _), c in big.items():
        prev[p] += c
    lam = 0.75

    def lpm(p, w):
        prob = lam * (big[(p, w)] / prev[p]) + (1 - lam) * (
            (uni[w] + 1) / float(tot + v + 1)
        )
        return math.floor(math.log(prob) * 1000000.0)

    assert 4 not in got
    for i, t in toks.items():
        if len(t) < 2:
            continue
        exp = sum(lpm(t[j - 1], t[j]) for j in range(1, len(t)))
        assert got[i] == (len(t) - 1, exp), (i, got[i], (len(t) - 1, exp))


def test_dedup_paragraphs_randomized_python_reference(spark):
    """Seeded randomized corpus vs a pure-Python model of keep_first:
    paragraphs drawn from a tiny pool so cross-doc collisions are dense,
    verifying the global (doc, pos) ordering rule under real contention."""
    import random

    from jobinsight_data_pipeline_spark.operators.textstats import (
        dedup_paragraphs,
    )

    rng = random.Random(7)
    pool = [f"para {i} text" for i in range(12)] + ["", "  "]
    docs = {
        i: "\n".join(rng.choice(pool) for _ in range(rng.randint(1, 9)))
        for i in range(40)
    }
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_dropped"])
        for r in dedup_paragraphs(df, mode="keep_first").collect()
    }

    seen: set[str] = set()
    for i in sorted(docs):
        paras = docs[i].split("\n")
        kept = []
        dropped = 0
        for para in paras:
            key = para.strip()
            if key == "":
                kept.append(para)
            elif key not in seen:
                seen.add(key)
                kept.append(para)
            else:
                dropped += 1
        assert got[i] == ("\n".join(kept), len(paras), dropped), i


def test_hashed_classifier_matches_python_reference(spark):
    """Replay hashing-trick bucketing and the integer dot product in
    pure Python; require exact BIGINT equality (no float tolerance —
    the whole point of micro-weights)."""
    import hashlib

    from jobinsight_data_pipeline_spark.operators.classifier import (
        seeded_int_weights,
        with_quality_classification,
    )

    w = seeded_int_weights(64, seed=3)
    docs = {
        1: "The quick brown fox",
        2: "single",
        3: "",
        4: "\t spaced   out tokens ",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["score_micro"], r["keep"])
        for r in with_quality_classification(
            df, "text", w, bias=100, threshold_micro=0
        ).collect()
    }

    def bucket(salt, t):
        return int(hashlib.md5((salt + t).encode()).hexdigest()[:8], 16) % len(w)

    for i, t in docs.items():
        toks = t.lower().split()
        grams = [f"{toks[j - 1]} {toks[j]}" for j in range(1, len(toks))]
        z = (
            100
            + sum(w[bucket("u:", x)] for x in toks)
            + sum(w[bucket("b:", g)] for g in grams)
        )
        assert got[i] == (z, z >= 0), (i, got[i], z)


def test_pq_encode_recovers_centroid_built_vectors(spark):
    """A vector assembled FROM codebook centroids must encode exactly to
    those centroid indices, and ADC must rank it at distance 0 for a
    query equal to itself."""
    from jobinsight_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    cb = pq_codebooks(dim=64, m=8, k=16, seed=5)
    picks = [3, 0, 15, 7, 9, 1, 12, 5]
    vec = [x for j, c in enumerate(picks) for x in cb[j][c]]
    other = [x for j in range(8) for x in cb[j][(picks[j] + 1) % 16]]
    df = spark.createDataFrame(
        [(1, vec), (2, other)], "vec_id long, embedding array<double>"
    )
    enc = pq_encode(df, cb)
    got = {r["vec_id"]: r["codes"] for r in enc.collect()}
    assert got[1] == picks
    assert got[2] == [(p + 1) % 16 for p in picks]

    top = pq_adc_topk(enc, vec, cb, k=2).collect()
    assert top[0]["vec_id"] == 1 and top[0]["adc"] == 0.0
    assert top[1]["vec_id"] == 2 and top[1]["adc"] > 0.0


def test_ivf_pq_full_probe_equals_plain_adc(spark):
    """With n_probe = n_lists the IVF filter prunes nothing, so the
    composed path must equal plain PQ + ADC exactly; with a small
    n_probe the result is a subset-ranking of the same scores."""
    from jobinsight_data_pipeline_spark.operators.similarity import (
        ivf_pq_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
        unit_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_codebooks()
    cents = unit_centroids(64, 16, seed=11)
    query = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]

    full = ivf_pq_topk(emb, query, cents, cb, k=10, n_probe=16).collect()
    plain = pq_adc_topk(pq_encode(emb, cb), query, cb, k=10).collect()
    assert [(r["vec_id"], r["adc"]) for r in full] == [
        (r["vec_id"], r["adc"]) for r in plain
    ]

    pruned = ivf_pq_topk(emb, query, cents, cb, k=10, n_probe=4).collect()
    assert len(pruned) == 10
    plain_scores = {r["vec_id"]: r["adc"] for r in plain}
    # every pruned result that also appears in the full ranking carries
    # the identical ADC score (same codes, same LUT)
    for r in pruned:
        if r["vec_id"] in plain_scores:
            assert r["adc"] == plain_scores[r["vec_id"]]


def test_pagerank_quantized_matches_python_reference(spark):
    """Replay the integer PageRank recurrence in pure Python on a small
    skewed graph; ranks must match to the unit after every iteration's
    truncating division."""
    from jobinsight_data_pipeline_spark.operators.components import (
        pagerank_quantized,
    )

    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (4, 0), (0, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_quantized(df, iterations=4).collect()
    }

    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    scale, damping = 10**12, 850_000
    init = scale // n
    base = (init * (1_000_000 - damping)) // 1_000_000
    deg = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
    rank = {u: init for u in nodes}
    for _ in range(4):
        s = {u: 0 for u in nodes}
        for u, v in edges:
            s[v] += rank[u] // deg[u]
        rank = {u: base + (damping * s[u]) // 1_000_000 for u in nodes}
    assert got == rank
    # dangling-free graph: total mass stays within rounding slack of scale
    assert abs(sum(got.values()) - scale) < n * 2


def test_leakage_safe_split_no_cross_pairs_and_append_stable(spark):
    """The cluster-aware split's two contracts: (1) ZERO near-dup pairs
    straddle a split boundary — every pair's endpoints share a
    component, hence a split; (2) appending an unrelated document never
    reassigns existing docs (md5-of-component rule, no ordinals)."""
    from jobinsight_data_pipeline_spark.operators.components import (
        connected_components,
    )
    from jobinsight_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from jobinsight_data_pipeline_spark.operators.sampling import hash_split

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, base + f" variant {i % 3}") for i in range(9)] + [
        (100, "completely different text about spark partitions and shuffles"),
        (101, "another unrelated document concerning xml interchange fidelity"),
    ]

    def assign(doc_rows):
        docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
        pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
        labels = connected_components(pairs, "doc_a", "doc_b").withColumnRenamed(
            "node", "doc_id"
        )
        assigned = (
            docs.select("doc_id")
            .join(labels, "doc_id", "left")
            .select(
                "doc_id", F.coalesce("component", "doc_id").alias("component")
            )
        )
        out = hash_split(
            assigned, "component", {"train": 0.8, "val": 0.1, "test": 0.1},
            salt="leak",
        )
        return pairs, {r["doc_id"]: r["split"] for r in out.collect()}

    pairs, splits = assign(rows)
    got_pairs = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert got_pairs, "fixture must produce near-dup pairs"
    assert len(splits) == len(rows)
    cross = [(a, b) for a, b in got_pairs if splits[a] != splits[b]]
    assert cross == []

    _, splits2 = assign(rows + [(200, "a brand new appended document")])
    assert all(splits2[k] == v for k, v in splits.items())


def test_token_drift_known_answers(spark):
    """Hand-computed ppm drift: tokens missing on one side count 0,
    ppm uses each side's OWN total, ranking is |delta| desc then token
    asc, and top_k cuts after ranking."""
    from jobinsight_data_pipeline_spark.operators.profiling import (
        token_drift,
    )

    a = spark.createDataFrame(
        [("x x y",), ("x z",)], "text string"
    )  # totals: x=3, y=1, z=1 of 5
    b = spark.createDataFrame(
        [("x y y y",)], "text string"
    )  # totals: x=1, y=3 of 4
    got = [
        (r["token"], r["cnt_a"], r["cnt_b"], r["ppm_a"], r["ppm_b"],
         r["delta_ppm"])
        for r in token_drift(a, b, "text", top_k=2).collect()
    ]
    # x: 600000 - 250000 = +350000; y: 200000 - 750000 = -550000;
    # z: 200000 - 0 = +200000 (cut by top_k=2)
    assert got == [
        ("y", 1, 3, 200_000, 750_000, -550_000),
        ("x", 3, 1, 600_000, 250_000, 350_000),
    ]


def test_sorted_neighborhood_pairs_known_answers(spark):
    """Total order is (key, id) — duplicate keys tie-break by id; the
    window counts POSITIONS, not key distance; tail rows emit fewer
    successors; window=1 yields exactly the adjacency chain."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(1, 50), (2, 10), (3, 10), (4, 99), (5, 11)]
    df = spark.createDataFrame(rows, "id long, k long")
    # order: (10,2) (10,3) (11,5) (50,1) (99,4) → ranks 1..5
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(df, "id", "k", window=2).collect()
    )
    assert got == sorted(
        [(2, 3), (2, 5), (3, 5), (3, 1), (5, 1), (5, 4), (1, 4)]
    )
    adj = sorted(
        (r["rank_a"], r["rank_b"])
        for r in sorted_neighborhood_pairs(df, "id", "k", window=1).collect()
    )
    assert adj == [(1, 2), (2, 3), (3, 4), (4, 5)]


def test_k_core_known_answers(spark):
    """K5 + bridge + path + cycle: at k=3 only the clique survives (the
    cycle's degree-2 nodes peel; the bridge node's loss never
    destabilizes the clique); at k=2 the cycle and bridge join it while
    the path cascades to nothing from both ends."""
    from jobinsight_data_pipeline_spark.operators.components import k_core

    edges = (
        [(a, b) for a in range(5) for b in range(a + 1, 5)]  # K5
        + [(10, 11), (11, 12), (12, 13)]  # path: cascades away
        + [(20, 21), (21, 22), (22, 23), (23, 24), (24, 20)]  # 5-cycle
        + [(30, 0), (30, 1)]  # bridge node: degree 2
    )
    df = spark.createDataFrame(edges, "src long, dst long")

    st3: dict = {}
    got3 = {
        r["node"]: r["core_degree"]
        for r in k_core(df, 3, stats=st3).collect()
    }
    assert got3 == {n: 4 for n in range(5)}
    assert st3["converged"]

    got2 = {r["node"]: r["core_degree"] for r in k_core(df, 2).collect()}
    want2 = {n: 4 for n in range(5)}
    want2.update({n: 2 for n in range(20, 25)})
    want2[30] = 2
    want2[0] = 5  # clique corner also holds the bridge edge
    want2[1] = 5
    assert got2 == want2

    assert k_core(df, 9).count() == 0  # no 9-core anywhere


def test_k_core_random_graph_matches_python(spark):
    """Seeded random graph vs a sequential Python peel loop."""
    import itertools
    import random

    from jobinsight_data_pipeline_spark.operators.components import k_core

    rng = random.Random(7)
    nodes = list(range(24))
    edges = sorted(
        {
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.25
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3, 4):
        got = {
            r["node"]: r["core_degree"] for r in k_core(df, k).collect()
        }
        adj = {u: set() for u in nodes}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        changed = True
        while changed:
            drop = [u for u in adj if 0 < len(adj[u]) < k]
            changed = bool(drop)
            for u in drop:
                for v in adj[u]:
                    adj[v].discard(u)
                adj[u] = set()
        want = {u: len(vs) for u, vs in adj.items() if vs}
        assert got == want, f"k={k}"


def test_triangle_counts_known_answers(spark):
    """K4 + pendant + disjoint path + self-loop + reversed duplicate:
    every branch — full clustering (lcc 10⁶), partial (K4 corner with a
    pendant: 2·3·10⁶ div 4·3 = 500000), triangle-free degree-1 nodes,
    loop dropped (node absent), duplicate/reversed edges canonicalized.
    """
    from jobinsight_data_pipeline_spark.operators.components import (
        triangle_counts,
    )

    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),  # K4
        (1, 0),  # reversed duplicate of (0, 1)
        (4, 0),  # pendant off the K4
        (5, 6),  # disjoint triangle-free path
        (7, 7),  # self-loop: dropped, node 7 never appears
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["triangles"], r["lcc_ppm"])
        for r in triangle_counts(df).collect()
    }
    assert got == {
        0: (4, 3, 500_000),
        1: (3, 3, 1_000_000),
        2: (3, 3, 1_000_000),
        3: (3, 3, 1_000_000),
        4: (1, 0, 0),
        5: (1, 0, 0),
        6: (1, 0, 0),
    }


def test_triangle_counts_random_graph_matches_python(spark):
    """Seeded random graph vs a brute-force pure-Python triangle count
    (all C(n,3) triples) — degrees, per-node counts, and the integer
    lcc formula must all agree."""
    import itertools
    import random

    from jobinsight_data_pipeline_spark.operators.components import (
        triangle_counts,
    )

    rng = random.Random(42)
    nodes = list(range(18))
    edges = sorted(
        {
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.3
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["triangles"], r["lcc_ppm"])
        for r in triangle_counts(df).collect()
    }

    adj = {u: set() for u in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tri = {u: 0 for u in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    want = {
        u: (
            len(adj[u]),
            tri[u],
            (2 * tri[u] * 1_000_000) // (len(adj[u]) * (len(adj[u]) - 1))
            if len(adj[u]) >= 2
            else 0,
        )
        for u in nodes
        if adj[u]
    }
    assert got == want


def test_select_until_budget_greedy_prefix(spark):
    """Best-score-first, boundary row included (starts inside budget),
    next row excluded; ties break by id."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        select_until_budget,
    )

    rows = [
        (1, 100, 40),   # 2nd: start 30
        (2, 100, 30),   # 3rd (tie -> id): start 70, still < 80 -> kept
        (3, 200, 30),   # best: start 0
        (4, 50, 10),    # start 100 >= 80 -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, score long, n long")
    got = {
        r["doc_id"]: r["start_offset"]
        for r in select_until_budget(df, "score", "n", 80, ["doc_id"]).collect()
    }
    assert got == {3: 0, 1: 30, 2: 70}


def test_manifest_diff_all_four_statuses(spark):
    from jobinsight_data_pipeline_spark.operators.packing import manifest_diff

    a = spark.createDataFrame(
        [(0, 5, 111), (1, 3, 222), (2, 4, 333)],
        "bucket long, n_rows long, content_checksum long",
    )
    b = spark.createDataFrame(
        [(0, 5, 111), (1, 3, 999), (3, 2, 444)],
        "bucket long, n_rows long, content_checksum long",
    )
    got = {
        r["bucket"]: (r["status"], r["n_rows_old"], r["n_rows_new"])
        for r in manifest_diff(a, b).collect()
    }
    assert got == {
        0: ("unchanged", 5, 5),
        1: ("changed", 3, 3),
        2: ("removed", 4, 0),
        3: ("added", 0, 2),
    }


def test_bucket_manifest_append_stability(spark):
    """Adding one row must change exactly ONE bucket's manifest entry —
    the property rank-based shard_manifest cannot offer."""
    from jobinsight_data_pipeline_spark.operators.packing import (
        bucket_manifest,
        manifest_diff,
    )

    v1 = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], "doc_id long, text string"
    )
    v2 = v1.unionAll(
        spark.createDataFrame([(999, "new doc")], "doc_id long, text string")
    )
    diff = manifest_diff(
        bucket_manifest(v1, "doc_id", "text", buckets=8),
        bucket_manifest(v2, "doc_id", "text", buckets=8),
    ).collect()
    changed = [r for r in diff if r["status"] != "unchanged"]
    assert len(changed) == 1
    assert changed[0]["status"] in ("changed", "added")
    assert changed[0]["n_rows_new"] == changed[0]["n_rows_old"] + 1


def test_normalize_text_core_branches():
    """Pure-Python normalization core, no Spark needed: NFC composition,
    CR folding, NBSP, zero-width strip, control strip, None/empty."""
    import unicodedata

    from jobinsight_data_pipeline_spark.operators.textstats import (
        normalize_text_py,
    )

    dec = "éclair"  # decomposed é
    assert normalize_text_py(dec) == unicodedata.normalize("NFC", dec)
    assert normalize_text_py("a\r\nb\rc") == "a\nb\nc"
    assert normalize_text_py("x\xa0y") == "x y"
    assert normalize_text_py("a​b﻿c") == "abc"
    assert normalize_text_py("k\x00\x07\x1fe\tep\n") == "ke\tep\n"
    assert normalize_text_py("") == ""
    assert normalize_text_py(None) is None


def test_dedup_paragraphs_idempotent(spark):
    """Re-running keep-first dedup on its own output is a no-op: every
    surviving paragraph is already the global first of its hash."""
    import random

    from jobinsight_data_pipeline_spark.operators.textstats import (
        dedup_paragraphs,
    )

    rng = random.Random(13)
    pool = [f"line {i}" for i in range(10)]
    docs = [
        (i, "\n".join(rng.choice(pool) for _ in range(rng.randint(1, 6))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    once = dedup_paragraphs(df, mode="keep_first").select("doc_id", "text")
    twice = dedup_paragraphs(once, mode="keep_first").select("doc_id", "text")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    n2 = {
        r["doc_id"]: r["n_dropped"]
        for r in dedup_paragraphs(once, mode="keep_first").collect()
    }
    assert all(v == 0 for v in n2.values())


# --- distributed quantized k-means (operators/clustering.py) -----------------

def test_kmeans_quantized_known_clusters(spark):
    """Two well-separated blobs, k=2: the fit lands one centroid per
    blob, every vector is assigned to its blob, and the result is
    invariant under repartitioning (integer arithmetic promise)."""
    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_quantized,
    )

    # ids 1 and 2 seed the fit (k lowest ids) — one per blob
    rows = [
        (1, [0.10, 0.10]), (2, [0.90, 0.90]), (3, [0.08, 0.12]),
        (4, [0.12, 0.08]), (5, [0.88, 0.92]), (6, [0.92, 0.88]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_fit_quantized(df, k=2, iterations=3)
    assert len(cents) == 2 and len(cents[0]) == 2
    # blob means: (0.10, 0.10) and (0.90, 0.90) in 1e-6 quantized units
    got = sorted((c[0], c[1]) for c in cents)
    assert abs(got[0][0] - 100_000) < 20_000
    assert abs(got[1][0] - 900_000) < 20_000
    out = {r["vec_id"]: r["cell"] for r in
           kmeans_assign(df, cents).collect()}
    assert out[1] == out[3] == out[4]
    assert out[2] == out[5] == out[6]
    assert out[1] != out[2]
    # partitioning invariance: identical model from a reshuffled frame
    cents2 = kmeans_fit_quantized(df.repartition(7), k=2, iterations=3)
    assert cents2 == cents


def test_kmeans_quantized_empty_cell_and_ties(spark):
    """A seed that captures no members keeps its previous centroid
    (carry-forward), and equidistant vectors break ties to the lowest
    cell id."""
    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_quantized,
    )

    # seeds are the 3 lowest ids; ids 1 and 2 coincide, so one seed
    # duplicates another and ends up empty after the first assignment
    rows = [
        (1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0]),
        (4, [1.0, 1.0]), (5, [0.02, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_fit_quantized(df, k=3, iterations=2)
    assert len(cents) == 3
    # iteration 1: the origin vectors tie between the two identical
    # seeds and go to cell 0 (lowest id), leaving cell 1 EMPTY — the
    # carry-forward keeps its init coordinates verbatim; cell 0 then
    # drifts toward (0.02, 0) and the origin pair migrates to cell 1
    assert cents[1] == [0, 0]
    # mean of the lone (0.02, 0) member; 0.02f widens to 0.01999999...,
    # so the floor quantizer lands on 19999 — pinned deliberately (the
    # quantizer is floor-of-the-float32-value, not of the decimal text)
    assert cents[0] == [19_999, 0]
    out = {r["vec_id"]: r["cell"] for r in kmeans_assign(df, cents).collect()}
    assert out[1] == 1 and out[2] == 1 and out[5] == 0
    # dist is exact quantized squared L2
    d = {r["vec_id"]: r["dist"] for r in kmeans_assign(df, cents).collect()}
    assert d[3] == d[4] and d[1] == 0
    # explicit tie between two IDENTICAL centroids resolves to the
    # lower cell id (array_position returns the first index)
    tied = {
        r["vec_id"]: r["cell"]
        for r in kmeans_assign(df, [[5, 5], [5, 5]]).collect()
    }
    assert set(tied.values()) == {0}


def test_kmeans_pp_seeds_beat_firstk_on_id_clustered_data(spark):
    """The reason the k-means‖ seed round exists: first-k-by-id seeding
    is quality-blind, and on data whose id order correlates with the
    embedding space (ingest order usually does — by source, by crawl
    day) all k seeds can land in ONE region. A 1-D chain of four blobs
    with the first k ids all in the leftmost blob: first-k stays stuck
    in a degenerate model even after 4 Lloyd's rounds, the D²-weighted
    draw recovers the global structure (measured ~1300× lower SSE —
    pinned loosely at 100× so jitter tweaks can't flake it). On data
    WITHOUT id-space correlation the two seedings land within ±0.1%
    (measured on the synthetic testdata corpus, COVERAGE.md r10)."""
    import pyspark.sql.functions as F

    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_quantized,
        kmeans_pp_seeds,
    )

    blobs = [0.05, 0.2, 0.6, 0.95]
    rows = []
    for b, bx in enumerate(blobs):
        for i in range(8):
            rows.append((b * 8 + i + 1, [bx + ((i * 7) % 4) * 0.003, 0.5]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def sse(cents):
        return (
            kmeans_assign(df, cents).agg(F.sum("dist")).collect()[0][0]
        )

    firstk = kmeans_fit_quantized(df, k=4, iterations=4)
    seeds = kmeans_pp_seeds(df, k=4)
    pp = kmeans_fit_quantized(df, k=4, iterations=4, init_centroids=seeds)
    assert sse(firstk) > 100 * sse(pp)
    # the draw is engine-portable determinism, not RNG: identical seed
    # matrix from a reshuffled frame
    assert kmeans_pp_seeds(df.repartition(7), k=4) == seeds
    # seed 0 is the md5-order pick; the k-1 draws are distinct vectors
    assert len(seeds) == 4
    assert len({tuple(s) for s in seeds}) == 4


def test_kmeans_pp_seeds_contract_errors(spark):
    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_fit_quantized,
        kmeans_pp_seeds,
    )

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="only 2 vectors"):
        kmeans_pp_seeds(df, k=5)
    with pytest.raises(ValueError, match="k must be >= 1"):
        kmeans_pp_seeds(df, k=0)
    with pytest.raises(ValueError, match="init_centroids has 1"):
        kmeans_fit_quantized(df, k=2, init_centroids=[[0, 0]])
    # k=1 degenerates to the md5-order pick alone
    one = kmeans_pp_seeds(df, k=1)
    assert len(one) == 1 and len(one[0]) == 2


def test_fit_centroids_distributed_feeds_ivf(spark):
    """fit_centroids_distributed keeps the list[list[float]] contract of
    similarity.fit_centroids: the IVF top-k builder consumes it directly
    and still returns the brute-force answer at full probe width."""
    import numpy as np

    from jobinsight_data_pipeline_spark.operators.clustering import (
        fit_centroids_distributed,
    )
    from jobinsight_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(8).round(3).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where("vec_id = 7")
    cents = fit_centroids_distributed(df, n_lists=4, iterations=2)
    assert len(cents) == 4 and all(isinstance(x, float) for x in cents[0])
    exact = [
        (r["rank"], r["neighbor_id"])
        for r in cosine_topk(df, queries, k=5).collect()
    ]
    # n_probe = n_lists degenerates to exact brute force regardless of
    # which centroid model partitions the corpus
    via_ivf = [
        (r["rank"], r["neighbor_id"])
        for r in ivf_cosine_topk(
            df, queries, k=5, n_lists=4, n_probe=4, centroids=cents
        ).collect()
    ]
    assert sorted(via_ivf) == sorted(exact)


def test_quantile_bins_matches_ntile(spark):
    """quantile_bins (histogram-CDF + within-bucket windows) must equal
    the textbook global window bit-for-bit: random scores incl.
    negatives, heavy ties across bucket boundaries, and N < n_bins."""
    import random

    from pyspark.sql import Window

    from jobinsight_data_pipeline_spark.operators.sampling import (
        quantile_bins,
    )

    w = Window.orderBy(F.col("score").asc(), F.col("doc_id").asc())

    def ref(df, n):
        return df.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).withColumn("bin", F.ntile(n).over(w))

    def both(df, n, hb):
        got = {
            r.doc_id: (r.rank, r.bin)
            for r in quantile_bins(
                df, "score", ["doc_id"], n_bins=n, hist_buckets=hb
            ).collect()
        }
        exp = {r.doc_id: (r.rank, r.bin) for r in ref(df, n).collect()}
        assert got == exp

    random.seed(11)
    rows = [(i, random.randint(-50, 50)) for i in range(317)]
    both(spark.createDataFrame(rows, "doc_id long, score long"), 7, 16)
    # one dominating tie value + a tiny tail, coarse buckets
    rows2 = [(i, 7) for i in range(40)] + [(100 + i, i % 3) for i in range(23)]
    both(spark.createDataFrame(rows2, "doc_id long, score long"), 5, 4)
    # fewer rows than bins: bin == rank
    both(spark.createDataFrame([(1, 5), (2, 3)], "doc_id long, score long"), 10, 1024)
    # single distinct score: pure tie-break ordering
    both(spark.createDataFrame([(i, 9) for i in range(13)], "doc_id long, score long"), 4, 8)


def test_interval_join_known_answers(spark):
    """Banded interval join: inclusive bounds, exactly-one-match per
    overlapping (interval, point) pair even when an interval spans many
    bands, optional equi-keys, and the fan-out guard."""
    import pytest

    from jobinsight_data_pipeline_spark.operators.asof import interval_join

    iv = spark.createDataFrame(
        [("a", 10, 20), ("b", 15, 15), ("c", 100, 140)],
        "iv_id string, s long, e long",
    )
    pts = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 15), (4, 21), (5, 139), (6, 140)],
        "p_id long, p long",
    )
    got = sorted(
        (r.iv_id, r.p_id)
        for r in interval_join(pts, iv, "p", "s", "e", band_width=4).collect()
    )
    # bounds inclusive; interval c spans 11 bands at width 4 yet each
    # point matches once
    assert got == [
        ("a", 1), ("a", 2), ("a", 3), ("b", 3), ("c", 5), ("c", 6)
    ]
    # equi-keys partition the match space
    iv_k = spark.createDataFrame(
        [("x", 0, 100), ("y", 0, 100)], "k string, s long, e long"
    )
    pts_k = spark.createDataFrame(
        [("x", 50), ("y", 60), ("z", 70)], "k string, p long"
    )
    got_k = sorted(
        (r.k, r.p)
        for r in interval_join(
            pts_k, iv_k, "p", "s", "e", band_width=64, keys=["k"]
        ).collect()
    )
    assert got_k == [("x", 50), ("y", 60)]
    # guard: a 10k-wide interval at band_width=1 exceeds the cap
    with pytest.raises(ValueError, match="band_width"):
        interval_join(
            pts,
            spark.createDataFrame([(0, 10_000)], "s long, e long"),
            "p", "s", "e", band_width=1, max_bands_per_interval=100,
        )


def test_chunk_audio_grid_known_answers(spark):
    """chunk_audio fan-out contract: window/hop boundaries, the partial
    tail window clamped to duration, zero/NULL durations dropped, and
    the max_chunks cap."""
    import pytest

    from jobinsight_data_pipeline_spark.operators.multimodal import chunk_audio

    media = spark.createDataFrame(
        [
            (1, None, ("audio/wav", None, None, 1700)),
            (2, None, ("audio/wav", None, None, 0)),
            (3, None, ("audio/wav", None, None, None)),
            (4, None, ("audio/wav", None, None, 10_000)),
        ],
        "media_id long, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    out = chunk_audio(media, window_ms=1000, hop_ms=500, max_chunks=4)
    rows = sorted(
        (r.media_id, r.chunk_idx, r.start_ms, r.end_ms) for r in out.collect()
    )
    assert rows == [
        # dur 1700 -> chunks at 0, 500, 1000, 1500; tails clamp to 1700
        (1, 0, 0, 1000), (1, 1, 500, 1500), (1, 2, 1000, 1700),
        (1, 3, 1500, 1700),
        # dur 10000 would need 20 chunks; capped at 4
        (4, 0, 0, 1000), (4, 1, 500, 1500), (4, 2, 1000, 2000),
        (4, 3, 1500, 2500),
    ]
    with pytest.raises(ValueError):
        chunk_audio(media, window_ms=0)


def test_length_buckets_known_answers(spark):
    """length_buckets: smallest-cap-that-fits assignment, exact waste,
    NULL cap + zero waste for overflow rows, ascending-ladder guard."""
    import pytest

    from jobinsight_data_pipeline_spark.operators.packing import (
        length_buckets,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 16), (3, 17), (4, 96), (5, 97), (6, 0)],
        "doc_id long, n_tokens long",
    )
    out = {
        r.doc_id: (r.bucket_cap, r.pad_waste)
        for r in length_buckets(df, "n_tokens", [16, 32, 64, 96]).collect()
    }
    assert out[1] == (16, 6)
    assert out[2] == (16, 0)   # exact fit, boundary inclusive
    assert out[3] == (32, 15)  # next cap up
    assert out[4] == (96, 0)
    assert out[5] == (None, 0)  # overflow: no cap fits
    assert out[6] == (16, 16)
    with pytest.raises(ValueError):
        length_buckets(df, "n_tokens", [32, 16])


def test_dataset_card_known_answers(spark):
    """dataset_card: volumes, corpus-wide dup flagging (cross-source
    counts against both sources), and the deterministic lang mix."""
    from jobinsight_data_pipeline_spark.operators.profiling import (
        dataset_card,
    )

    df = spark.createDataFrame(
        [
            (1, "s1", "the cat is of the house and it is here"),
            (2, "s1", "shared boilerplate"),
            (3, "s2", "shared boilerplate"),
            (4, "s2", "le chien et le chat ne sont pas la"),
            (5, "s2", "zz qq"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in dataset_card(df).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1.n_docs, s1.n_dup_docs) == (2, 1)
    assert (s2.n_docs, s2.n_dup_docs) == (3, 1)
    assert s1.sum_tokens == 10 + 2
    assert s1.lang_mix == "en:1|und:1"  # boilerplate has no profile hits
    assert s2.lang_mix == "fr:1|und:2"
    assert s2.sum_chars == len("shared boilerplate") + len(
        "le chien et le chat ne sont pas la"
    ) + len("zz qq")


def test_theta_overlap_exact_mode_set_algebra(spark):
    """Below nominal entries the theta estimates are exact — the
    overlap operator must return the true set algebra for overlapping,
    disjoint, and contained key sets, skipping NULL keys."""
    from jobinsight_data_pipeline_spark.operators.sketches import (
        theta_overlap,
    )

    def sets(xs, ys):
        a = spark.createDataFrame([(x,) for x in xs], "k long")
        b = spark.createDataFrame([(y,) for y in ys], "k long")
        r = theta_overlap(a, b, "k").head()
        return (r.est_a, r.est_b, r.est_union, r.est_intersect, r.est_diff)

    # overlap: A=0..699, B=300..999
    assert sets(range(700), range(300, 1000)) == (700, 700, 1000, 400, 300)
    # disjoint
    assert sets(range(50), range(100, 150)) == (50, 50, 100, 0, 50)
    # containment: B ⊂ A
    assert sets(range(100), range(20, 40)) == (100, 20, 100, 20, 80)
    # duplicates collapse; NULLs skipped
    a = spark.createDataFrame([(1,), (1,), (None,)], "k long")
    b = spark.createDataFrame([(1,), (2,)], "k long")
    r = theta_overlap(a, b, "k").head()
    assert (r.est_a, r.est_union, r.est_intersect) == (1, 2, 1)


# --- hypertable rollups / resampling (operators/timeseries.py) ---------------

def test_cascade_reaggregation_invariance(spark):
    """Every cascade level must equal a direct aggregation of the raw
    rows at that width — the decomposable-aggregate contract."""
    import random

    from jobinsight_data_pipeline_spark.operators.timeseries import (
        bucket_rollup,
        cascade_level,
    )

    rng = random.Random(5)
    rows = [
        (rng.randint(0, 3_599_999_999_9), f"t{i % 3}", rng.randint(-500, 500))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "m long, k string, cents long")
    minute = bucket_rollup(df, "m", ["k"], "cents", 60_000_000)
    hour_casc = cascade_level(
        cascade_level(minute, ["k"], 10), ["k"], 6
    )
    hour_direct = bucket_rollup(df, "m", ["k"], "cents", 3_600_000_000)
    a = {(r.bucket, r.k): (r.n, r.sum_cents, r.min_cents, r.max_cents)
         for r in hour_casc.collect()}
    b = {(r.bucket, r.k): (r.n, r.sum_cents, r.min_cents, r.max_cents)
         for r in hour_direct.collect()}
    assert a == b


def test_resample_ffill_known_answers(spark):
    """Grid boundaries, forward fill across gaps, tie resolution to the
    freshest write, and the single-observation degenerate grid."""
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        resample_ffill,
    )

    rows = [
        # user 1: events at t=95, 100, 210 (tie at 100: ids 2 vs 3)
        (1, 95, 10, 1), (1, 100, 20, 2), (1, 100, 30, 3), (1, 210, 40, 4),
        # user 2: single event exactly on a grid point
        (2, 300, 70, 5),
        # user 3: span shorter than a step -> no aligned grid point
        (3, 101, 80, 6), (3, 140, 90, 7),
    ]
    df = spark.createDataFrame(rows, "u long, m long, cents long, eid long")
    out = sorted(
        (r.u, r.grid_micros, r.cents)
        for r in resample_ffill(df, "m", "u", "cents", 100, "eid").collect()
    )
    # user 1 grid: 100, 200; 100 takes the tie-winner (eid 3), 200 holds it
    # user 2 grid: 300 (exact hit)
    # user 3: first aligned point 200 > hi=140 -> empty
    assert out == [(1, 100, 30), (1, 200, 30), (2, 300, 70)]


def test_funnel_counts_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.behavior import funnel_counts

    def ts(day, hour=0, minute=0):
        return dt.datetime(2024, 1, day, hour, minute)

    rows = [
        # user 1: full ordered funnel inside the window
        (1, ts(1), "view", 10), (1, ts(1, 1), "click", 11),
        (1, ts(2), "purchase", 12),
        # user 2: click BEFORE the first view only -> stalls at step 1
        (2, ts(1), "click", 20), (2, ts(2), "view", 21),
        # user 3: purchase outside the 72h window -> steps 1-2 only
        (3, ts(1), "view", 30), (3, ts(1, 1), "click", 31),
        (3, ts(9), "purchase", 32),
        # user 4: never enters (no view)
        (4, ts(1), "purchase", 40),
        # user 5: view/click SIMULTANEOUS, click has the larger event_id
        # -> strict (ts, event_id) order counts the click
        (5, ts(1), "view", 50), (5, ts(1), "click", 51),
        # user 6: simultaneous but click id LOWER -> click does NOT count
        (6, ts(1), "click", 60), (6, ts(1), "view", 61),
        # user 7: greedy anchor pins to the FIRST view; the click is
        # within 72h of the SECOND view only -> documented miss
        (7, ts(1), "view", 70), (7, ts(10), "view", 71),
        (7, ts(10, 1), "click", 72),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string, event_id long"
    )
    out = {
        r["step"]: (r["event_type"], r["n_users"], r["conv_ppm"], r["step_ppm"])
        for r in funnel_counts(
            events, ["view", "click", "purchase"], within_hours=72
        ).collect()
    }
    assert out == {
        1: ("view", 6, 1_000_000, None),
        2: ("click", 3, 500_000, 500_000),
        3: ("purchase", 1, 166_666, 333_333),
    }
    # anchor='all' (windowed re-entry): user 7's SECOND view anchors
    # its own chain, so the documented first-anchor miss converts;
    # everything else is unchanged (one anchor each or no later entry)
    out_all = {
        r["step"]: (r["event_type"], r["n_users"])
        for r in funnel_counts(
            events,
            ["view", "click", "purchase"],
            within_hours=72,
            anchor="all",
        ).collect()
    }
    assert out_all == {
        1: ("view", 6),
        2: ("click", 4),
        3: ("purchase", 1),
    }
    # re-entry can only ADD users per step, never remove — and an
    # unknown anchor mode raises
    import pytest

    with pytest.raises(ValueError, match="anchor"):
        funnel_counts(events, ["view"], anchor="last")


def test_funnel_counts_no_window(spark):
    from jobinsight_data_pipeline_spark.operators.behavior import funnel_counts

    def ts(day):
        return dt.datetime(2024, 1, day)

    events = spark.createDataFrame(
        [
            (1, ts(1), "a", 1), (1, ts(20), "b", 2),   # far apart: still counts
            (2, ts(1), "b", 3),                         # b without prior a
        ],
        "user_id long, ts timestamp_ntz, event_type string, event_id long",
    )
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts(events, ["a", "b"]).collect()
    }
    assert out == {1: 1, 2: 1}


def test_cohort_retention_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.behavior import (
        cohort_retention,
    )

    # 2024-01-01 and 2024-01-08 are Mondays
    w1, w2, w3 = dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 17)
    events = spark.createDataFrame(
        [
            # user 1: cohort w1, active w1 + w2 (two events in w2: still 1)
            (1, w1), (1, w2), (1, dt.datetime(2024, 1, 11)),
            # user 2: cohort w1, active w1 only
            (2, w1),
            # user 3: cohort w2, active w2 + w3
            (3, w2), (3, w3),
        ],
        "user_id long, ts timestamp_ntz",
    )
    out = {
        (str(r["cohort_week"]), r["period_weeks"]): (
            r["n_active"], r["retention_ppm"]
        )
        for r in cohort_retention(events).collect()
    }
    assert out == {
        ("2024-01-01", 0): (2, 1_000_000),
        ("2024-01-01", 1): (1, 500_000),
        ("2024-01-08", 0): (1, 1_000_000),
        ("2024-01-08", 1): (1, 1_000_000),
    }


def test_cms_upper_bound_and_merge(spark):
    from jobinsight_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    rows = [(w,) for w in "a b a c a b d e f a b c".split()]
    df = spark.createDataFrame(rows, "k string")
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n")).collect()}

    # narrow sketch: estimates never BELOW truth
    cms = cms_build(df, "k", depth=3, width=4)
    est = {
        r["k"]: r["cms_cnt"]
        for r in cms_estimate(cms, df, "k", depth=3, width=4).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)

    # wide sketch: no collisions possible to matter -> exact
    wide = cms_build(df, "k", depth=4, width=4096)
    est_w = {
        r["k"]: r["cms_cnt"]
        for r in cms_estimate(wide, df, "k", depth=4, width=4096).collect()
    }
    assert est_w == exact

    # mergeability: sketch(A) + sketch(B) cell-wise == sketch(A union B)
    words = "a b a c a b d e f a b c".split()
    a = spark.createDataFrame([(w,) for w in words[:5]], "k string")
    b = spark.createDataFrame([(w,) for w in words[5:]], "k string")
    sa, sb = cms_build(a, "k", 3, 64), cms_build(b, "k", 3, 64)
    merged = (
        sa.unionByName(sb)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_build(df, "k", 3, 64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_cms_weighted_build_matches_stream_build(spark):
    """cms_build(counts, weight_col=...) over a key histogram is
    cell-for-cell identical to the occurrence-stream build (the r12
    heavy-hitter gate rides this equivalence)."""
    from jobinsight_data_pipeline_spark.operators.sketches import cms_build

    rows = [(w,) for w in "a b a c a b d e f a b c a a e".split()]
    df = spark.createDataFrame(rows, "k string")
    counts = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    stream_cells = cms_build(df, "k", depth=3, width=4)
    weighted_cells = cms_build(counts, "k", depth=3, width=4, weight_col="n")
    assert sorted(map(tuple, stream_cells.collect())) == sorted(
        map(tuple, weighted_cells.collect())
    )


def test_cms_absent_key_estimates_zero_or_collision(spark):
    from jobinsight_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([("x",), ("y",)], "k string")
    cms = cms_build(df, "k", depth=4, width=4096)
    probe = spark.createDataFrame([("zzz-not-present",)], "k string")
    [row] = cms_estimate(cms, probe, "k", depth=4, width=4096).collect()
    assert row["cms_cnt"] == 0


def test_rrf_fuse_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.ranking import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(20, 1), (40, 2), (10, 3)], "doc_id long, rank long"
    )
    out = {
        r["doc_id"]: (
            r["lex_rank"], r["sem_rank"], r["rrf_micro"], r["rank"]
        )
        for r in rrf_fuse([("lex", lex), ("sem", sem)], k=10).collect()
    }
    c = lambda r: 1_000_000 // (60 + r)
    # doc 20: ranks 2+1 -> highest; doc 10: 1+3; doc 40 + doc 30 single-list
    assert out[20] == (2, 1, c(2) + c(1), 1)
    assert out[10] == (1, 3, c(1) + c(3), 2)
    assert out[40] == (None, 2, c(2), 3)   # ties c(2)=c(3)? no: 16129 vs 15873
    assert out[30] == (3, None, c(3), 4)
    assert len(out) == 4


def test_rrf_fuse_tie_breaks_on_id(spark):
    from jobinsight_data_pipeline_spark.operators.ranking import rrf_fuse

    a = spark.createDataFrame([(5, 1), (3, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(3, 1), (5, 2)], "doc_id long, rank long")
    rows = rrf_fuse([("a", a), ("b", b)], k=2).collect()
    # symmetric contributions -> equal rrf_micro; lower id wins
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])] == [3, 5]


def test_sq8_codes_and_reconstruction(spark):
    from jobinsight_data_pipeline_spark.operators.similarity import (
        sq8_encode,
        sq8_stats,
    )

    rows = [
        (0, [0.0, 5.0, -2.0, 7.0]),
        (1, [1.0, 5.0, 2.0, 7.0]),     # dims 1 and 3 are CONSTANT
        (2, [0.5, 5.0, 0.0, 7.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats = sq8_stats(df)
    [s] = stats.collect()
    assert s["mn"] == [0.0, 5.0, -2.0, 7.0]
    assert s["span"] == [1.0, 0.0, 4.0, 0.0]
    codes = {r["vec_id"]: r["codes"] for r in sq8_encode(df, stats).collect()}
    # grid-aligned values quantize exactly; constant dims code to 0
    assert codes[0] == [0, 0, 0, 0]
    assert codes[1] == [255, 0, 255, 0]
    assert codes[2] == [128, 0, 128, 0]  # 0.5*255+0.5 -> 128; (0+2)/4 same
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)


def test_sq8_topk_exact_on_grid(spark):
    from jobinsight_data_pipeline_spark.operators.similarity import (
        sq8_topk_micro,
    )

    # all values on the {0,1} grid -> reconstruction is EXACT, so SQ8
    # ranking must equal the exact dot-product ranking
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 1.0]),
        (2, [0.0, 1.0]),
        (3, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    out = [
        (r["rank"], r["neighbor_id"], r["adc_micro"])
        for r in sq8_topk_micro(df, q, k=4)
        .orderBy("rank")
        .collect()
    ]
    # dots with (1,0): id1 -> 1, id2 -> 0, id3 -> 0 (tie on id)
    assert out == [(1, 1, 1_000_000), (2, 2, 0), (3, 3, 0)]


def test_hard_negatives_excludes_positives(spark):
    from jobinsight_data_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),    # sim 1.0 with query 0 -> positive, excluded
        (2, [1.0, 1.0]),    # sim ~0.707
        (3, [0.0, 1.0]),    # sim 0.0
        (4, [-1.0, 0.0]),   # sim -1.0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    out = [
        (r["neg_rank"], r["neighbor_id"])
        for r in hard_negatives(df, q, k_neg=2, exclude_sim=0.99)
        .orderBy("neg_rank")
        .collect()
    ]
    assert out == [(1, 2), (2, 3)]  # the exact twin never appears


def test_editdist_verify_known_answers_and_threshold(spark):
    from jobinsight_data_pipeline_spark.operators.dedup import editdist_verify

    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "zzzzzzzzzz")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): (r["dist"], r["ratio_ppm"], r["is_dup"])
        for r in editdist_verify(cand, docs, max_ratio_ppm=500_000).collect()
    }
    # levenshtein(kitten, sitting)=3, longer len 7 -> 428571 ppm <= 50%
    assert out[(1, 2)] == (3, 428571, True)
    assert out[(1, 3)][0] == 10 and not out[(1, 3)][2]

    # banded variant: distances above the threshold come back -1 and
    # must NOT count as duplicates
    out_t = {
        (r["id_a"], r["id_b"]): (r["dist"], r["is_dup"])
        for r in editdist_verify(
            cand, docs, max_ratio_ppm=500_000, threshold=4
        ).collect()
    }
    assert out_t[(1, 2)] == (3, True)
    assert out_t[(1, 3)] == (-1, False)


def test_k_anonymity_audit(spark):
    from jobinsight_data_pipeline_spark.operators.profiling import (
        k_anonymity_audit,
    )

    rows = [("a", 1)] * 3 + [("a", 2)] * 2 + [("b", 1)] * 5
    df = spark.createDataFrame(rows, "seg string, nat int")
    out = {
        (r["seg"], r["nat"]): (r["class_n"], r["meets_k"], r["share_ppm"])
        for r in k_anonymity_audit(df, ["seg", "nat"], k=3).collect()
    }
    assert out == {
        ("a", 1): (3, True, 300_000),
        ("a", 2): (2, False, 200_000),
        ("b", 1): (5, True, 500_000),
    }


def test_skew_audit_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.skew import skew_audit

    rows = [(1,)] * 6 + [(2,)] * 3 + [(3,)] * 1
    df = spark.createDataFrame(rows, "k long")
    out = {
        r["k"]: (r["n"], r["share_ppm"], r["x_uniform_ppm"])
        for r in skew_audit(df, ["k"], top_k=2).collect()
    }
    # 10 rows, 3 keys: uniform load = 10/3; key 1 carries 6 -> 1.8x
    assert out == {
        1: (6, 600_000, 1_800_000),
        2: (3, 300_000, 900_000),
    }


def test_cms_estimate_parameter_mismatch_raises(spark):
    """The r7-advice guard: probing a sketch with a depth/width that
    differs from the build raises instead of silently returning
    underestimates (the CMS upper-bound contract)."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from jobinsight_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([(w,) for w in "a b a c" * 8], "k string")
    cms = cms_build(df, "k", depth=4, width=64).localCheckpoint(eager=True)
    probe = df.limit(2)
    # matching params still fine
    assert cms_estimate(cms, probe, "k", depth=4, width=64).count() == 2
    # depth drift (either direction) raises
    with pytest.raises(SparkRuntimeException, match="parameter mismatch"):
        cms_estimate(cms, probe, "k", depth=3, width=64).collect()
    with pytest.raises(SparkRuntimeException, match="parameter mismatch"):
        cms_estimate(cms, probe, "k", depth=5, width=64).collect()
    # probe width narrower than the built width raises (a sketch
    # bucket >= width proves the drift); wider is documented-undetectable
    with pytest.raises(SparkRuntimeException, match="parameter mismatch"):
        cms_estimate(cms, probe, "k", depth=4, width=8).collect()


def test_order_key_negative_domain_raises(spark):
    """The r7-advice guard: '-' sorts below digits, so negative epochs
    or tiebreaks would silently corrupt funnel/attribution ordering —
    _order_key raises on them instead."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from jobinsight_data_pipeline_spark.operators.behavior import _order_key

    ok = spark.createDataFrame(
        [("2024-01-02 03:04:05", 7)], "ts string, event_id long"
    ).select(
        _order_key("CAST(ts AS TIMESTAMP_NTZ)", "event_id").alias("k")
    )
    [row] = ok.collect()
    assert row["k"].endswith(":00000000000000000007")

    pre1970 = spark.createDataFrame(
        [("1969-12-31 23:59:59", 7)], "ts string, event_id long"
    ).select(
        _order_key("CAST(ts AS TIMESTAMP_NTZ)", "event_id").alias("k")
    )
    with pytest.raises(SparkRuntimeException, match="non-negative"):
        pre1970.collect()

    neg_tb = spark.createDataFrame(
        [("2024-01-02 03:04:05", -7)], "ts string, event_id long"
    ).select(
        _order_key("CAST(ts AS TIMESTAMP_NTZ)", "event_id").alias("k")
    )
    with pytest.raises(SparkRuntimeException, match="non-negative"):
        neg_tb.collect()


def test_label_propagation_rejects_zero_rounds(spark):
    import pytest

    from jobinsight_data_pipeline_spark.operators.components import (
        label_propagation,
    )

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="rounds must be >= 1"):
        label_propagation(edges, rounds=0)


def test_weighted_sample_exact_n_semantics(spark):
    from jobinsight_data_pipeline_spark.operators.sampling import (
        weighted_sample_exact_n,
    )

    rows = [(i, 1 if i < 900 else 1000) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = weighted_sample_exact_n(df, "id", "w", n=50).collect()
    ids = [r["id"] for r in out]
    # no replacement, exactly n, ranks 1..n
    assert len(ids) == len(set(ids)) == 50
    assert sorted(r["rank"] for r in out) == list(range(1, 51))
    # 100 heavy ids (w=1000) vs 900 light (w=1): the heavy block must
    # dominate the draw (expected share ~99%; allow wide slack)
    heavy = sum(1 for i in ids if i >= 900)
    assert heavy >= 40
    # determinism + salt independence
    again = [r["id"] for r in weighted_sample_exact_n(df, "id", "w", 50).collect()]
    assert ids == again
    other = [
        r["id"]
        for r in weighted_sample_exact_n(df, "id", "w", 50, salt="ws2:").collect()
    ]
    assert ids != other


def test_label_propagation_two_communities(spark):
    from jobinsight_data_pipeline_spark.operators.components import (
        label_propagation,
    )

    # two triangles joined by one bridge edge + an isolated self-loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4), (99, 99)],
        "src long, dst long",
    )
    out = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=5).collect()
    }
    # hand-rolled sync-LPA trace: triangle A converges to label 1,
    # triangle B to label 3; the self-loop node keeps its own label
    assert out == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3, 99: 99}


def test_label_propagation_matches_python_reference(spark):
    from jobinsight_data_pipeline_spark.operators.components import (
        label_propagation,
    )

    # deterministic pseudo-random graph, compared against a direct
    # Python implementation of the same synchronous min-tie update
    pairs = [((i * 13 + 3) % 40, (i * 29 + 11) % 40) for i in range(70)]
    edges = spark.createDataFrame(pairs, "src long, dst long")

    nbrs: dict[int, set[int]] = {}
    nodes = set()
    for a, b in pairs:
        nodes.update((a, b))
        if a != b:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
    lab = {v: v for v in nodes}
    for _ in range(5):
        new = {}
        for v in nodes:
            if v not in nbrs:
                new[v] = lab[v]
                continue
            cnt: dict[int, int] = {}
            for u in nbrs[v]:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            new[v] = min(
                cnt, key=lambda l: (-cnt[l], l)
            )
        lab = new

    out = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=5).collect()
    }
    assert out == lab


def test_last_touch_attribution_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.behavior import (
        last_touch_attribution,
    )

    def ts(day, hour=0):
        return dt.datetime(2024, 1, day, hour)

    rows = [
        # user 1: view then click then purchase -> click gets the credit
        (1, ts(1), "view", 1, 0.0), (1, ts(2), "click", 2, 0.0),
        (1, ts(3), "purchase", 3, 10.5),
        # user 2: purchase BEFORE any touch -> 'none'; a later touch
        # then a second purchase -> view credited
        (2, ts(1), "purchase", 4, 2.0), (2, ts(2), "view", 5, 0.0),
        (2, ts(3), "purchase", 6, 3.0),
        # user 3: simultaneous view+click at the purchase instant:
        # <= semantics matches, max event_id wins the (user, ts) dedup
        (3, ts(5), "view", 7, 0.0), (3, ts(5), "click", 8, 0.0),
        (3, ts(5), "purchase", 9, 1.25),
    ]
    events = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp_ntz, event_type string,"
        " event_id long, value double",
    )
    out = {
        r["touch_type"]: (r["n_conversions"], r["n_users"], r["value_q4"])
        for r in last_touch_attribution(
            events, "purchase", ["view", "click"]
        ).collect()
    }
    assert out == {
        "click": (2, 2, 117500),   # users 1 (10.5) and 3 (1.25)
        "view": (1, 1, 30000),     # user 2's second purchase
        "none": (1, 1, 20000),     # user 2's first purchase
    }


def test_ohlc_bars_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.timeseries import ohlc_bars

    rows = [
        # bucket 0 (width 100): open at m=5 (v 30), close at m=90 (v 10)
        ("a", 5, 1, 30), ("a", 50, 2, 99), ("a", 90, 3, 10),
        # simultaneous first rows: tiebreak picks the LOWER id as open
        ("b", 0, 5, 7), ("b", 0, 4, 8), ("b", 20, 6, -2),
        # bucket 1
        ("a", 150, 9, 42),
    ]
    df = spark.createDataFrame(rows, "k string, m long, tb long, cents long")
    out = {
        (r["bucket"], r["k"]): (
            r["n"], r["open_cents"], r["high_cents"],
            r["low_cents"], r["close_cents"],
        )
        for r in ohlc_bars(df, "m", ["k"], "cents", "tb", 100).collect()
    }
    assert out == {
        (0, "a"): (3, 30, 99, 10, 10),
        (0, "b"): (3, 8, 8, -2, -2),  # open = id 4's value (8)
        (1, "a"): (1, 42, 42, 42, 42),
    }


def test_editdist_length_prefilter_preserves_verdicts(spark):
    from jobinsight_data_pipeline_spark.operators.dedup import editdist_verify

    docs = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgx"), (3, "ab"), (4, "abcdefghijkl")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    plain = {
        (r["id_a"], r["id_b"]): r["is_dup"]
        for r in editdist_verify(cand, docs, max_ratio_ppm=250_000).collect()
    }
    fast = {
        (r["id_a"], r["id_b"]): (r["dist"], r["is_dup"])
        for r in editdist_verify(
            cand, docs, max_ratio_ppm=250_000, length_prefilter=True
        ).collect()
    }
    # verdicts identical; the length-gap pair (1,3): gap 6 > 25% of 8
    # was decided WITHOUT the DP (dist -1)
    assert {k: v[1] for k, v in fast.items()} == plain
    assert fast[(1, 3)][0] == -1
    assert fast[(1, 2)][0] == 1


def test_funnel_counts_matches_python_reference(spark):
    from jobinsight_data_pipeline_spark.operators.behavior import funnel_counts

    # deterministic pseudo-random event log, compared against a direct
    # Python implementation of greedy-from-first-anchor matching
    rows = []
    for i in range(300):
        uid = (i * 7) % 23
        t = dt.datetime(2024, 1, 1) + dt.timedelta(
            minutes=(i * 131) % 1440, seconds=(i * 17) % 60
        )
        etype = ["a", "b", "c", "x"][(i * 11) % 4]
        rows.append((uid, t, etype, i))
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string, event_id long"
    )

    def ref_counts(steps, within_us):
        by_user: dict[int, list] = {}
        for uid, t, etype, eid in rows:
            if etype in steps:
                by_user.setdefault(uid, []).append(
                    (int(t.timestamp() * 1_000_000), eid, etype)
                )
        counts = [0] * len(steps)
        for evs in by_user.values():
            evs.sort()
            # greedy: earliest step-1, then earliest strictly-later next
            at = None
            anchor = None
            for k, step in enumerate(steps):
                cands = [
                    e for e in evs
                    if e[2] == step
                    and (at is None or (e[0], e[1]) > at)
                    and (
                        anchor is None
                        or within_us is None
                        or e[0] - anchor <= within_us
                    )
                ]
                if not cands:
                    break
                best = min(c[:2] for c in cands)
                if anchor is None:
                    anchor = best[0]
                at = best
                counts[k] += 1
        return counts

    for steps, hours in ((["a", "b", "c"], None), (["a", "b", "c"], 4)):
        got = {
            r["step"]: r["n_users"]
            for r in funnel_counts(events, steps, within_hours=hours).collect()
        }
        want = ref_counts(steps, None if hours is None else hours * 3_600_000_000)
        assert [got[i + 1] for i in range(3)] == want, (steps, hours)


def test_compression_ratio_signal(spark):
    from jobinsight_data_pipeline_spark.operators.textstats import (
        compressed_len_py,
        with_compression_ratio,
    )

    df = spark.createDataFrame(
        [(1, "spam " * 100), (2, "the quick brown fox"), (3, None)],
        "id long, text string",
    )
    out = {
        r["id"]: (r["comp_len"], r["byte_len"], r["ratio_ppm"])
        for r in with_compression_ratio(df).collect()
    }
    # repetition compresses away: far below the natural-text ratio
    assert out[1][0] == compressed_len_py("spam " * 100)
    assert out[1][2] < 100_000 < out[2][2]
    assert out[3] == (None, None, None)  # NULL text -> NULL signal


def test_quantile_normalize_matches_window_form(spark):
    from pyspark.sql import Window

    from jobinsight_data_pipeline_spark.operators.sampling import (
        quantile_normalize,
    )

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], (i * 37) % 50) for i in range(200)]
        + [(999, "solo", 42)],
        "id long, g string, s long",
    )
    got = {
        r["id"]: (r["rank_in_group"], r["pct_ppm"])
        for r in quantile_normalize(df, "s", ["g"], ["id"]).collect()
    }
    w = Window.partitionBy("g").orderBy(F.asc("s"), F.asc("id"))
    want = {
        r["id"]: (r["rn"], r["ppm"])
        for r in df.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .withColumn(
            "ppm",
            F.coalesce(
                F.expr("((rn - 1) * 1000000) div nullif(n - 1, 0)"),
                F.lit(500_000).cast("long"),
            ),
        )
        .collect()
    }
    assert got == want
    assert got[999] == (1, 500_000)  # singleton group pins the midpoint


def test_first_touch_attribution_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.behavior import (
        first_touch_attribution,
    )

    def ts(day, hour=0):
        return dt.datetime(2024, 1, day, hour)

    rows = [
        # user 1: view first, later click, purchase -> VIEW gets credit
        (1, ts(1), "view", 1, 0.0), (1, ts(2), "click", 2, 0.0),
        (1, ts(3), "purchase", 3, 10.0),
        # user 2: first purchase precedes any touch -> none;
        # second purchase after the click -> click
        (2, ts(1), "purchase", 4, 2.0), (2, ts(2), "click", 5, 0.0),
        (2, ts(3), "purchase", 6, 3.0),
        # user 3: simultaneous touch with SMALLER id than the purchase
        # counts ((ts, id) tuple <=)
        (3, ts(5), "view", 7, 0.0), (3, ts(5), "purchase", 8, 1.0),
    ]
    events = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp_ntz, event_type string,"
        " event_id long, value double",
    )
    out = {
        r["touch_type"]: (r["n_conversions"], r["n_users"], r["value_q4"])
        for r in first_touch_attribution(
            events, "purchase", ["view", "click"]
        ).collect()
    }
    assert out == {
        "view": (2, 2, 110000),
        "click": (1, 1, 30000),
        "none": (1, 1, 20000),
    }


def test_sq8_indexed_route_bit_identical_to_scan(spark):
    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_sq8_index,
        sq8_topk_micro,
        sq8_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id IN (3, 17)")
    scan = sorted(
        map(tuple, sq8_topk_micro(emb, q, k=7).collect())
    )
    codes, stats = build_sq8_index(emb)
    served = sorted(
        map(tuple, sq8_topk_indexed(codes, stats, q, k=7).collect())
    )
    assert scan == served


def test_iqr_outlier_fences_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.profiling import (
        iqr_outlier_fences,
    )

    # group 'a': values 1..8 plus a planted 100; n=9, r1=ceil(9/4)=3,
    # r3=ceil(27/4)=7 -> q1=3, q3=7, iqr=4, fences [-3.0, 13.0] (x10:
    # -30, 130) -> exactly one high outlier, no low
    rows = [("a", i, i) for i in range(1, 9)] + [("a", 9, 100)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    [r] = iqr_outlier_fences(df, "v", ["g"], ["id"]).collect()
    assert (r["n"], r["q1"], r["q3"], r["iqr"]) == (9, 3, 7, 4)
    assert (r["lo_fence_x10"], r["hi_fence_x10"]) == (-30, 130)
    assert (r["n_low"], r["n_high"]) == (0, 1)


def test_ohlc_partials_merge_equals_direct(spark):
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        merge_ohlc_partials,
        ohlc_bars,
        ohlc_partials,
    )

    rows = [
        ("a", (i * 37) % 500, i, ((i * 91) % 100) - 50) for i in range(120)
    ] + [("b", 10, 200, 5), ("b", 10, 201, -5)]
    df = spark.createDataFrame(rows, "k string, m long, tb long, cents long")
    direct = sorted(
        map(tuple, ohlc_bars(df, "m", ["k"], "cents", "tb", 100).collect())
    )
    # split into 3 arbitrary shards, partial each, merge
    shards = [df.filter(F.col("tb") % 3 == i) for i in range(3)]
    parts = shards[0].sparkSession.createDataFrame(
        [], ohlc_partials(shards[0], "m", ["k"], "cents", "tb", 100).schema
    )
    for sh in shards:
        parts = parts.unionByName(
            ohlc_partials(sh, "m", ["k"], "cents", "tb", 100)
        )
    merged = sorted(map(tuple, merge_ohlc_partials(parts, ["k"]).collect()))
    assert merged == direct


def test_mmr_rerank_diversifies(spark):
    from jobinsight_data_pipeline_spark.operators.similarity import mmr_rerank

    cand = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1_000_000),     # most relevant
            (2, [0.999, 0.04], 990_000),    # near-twin of 1
            (3, [0.0, 1.0], 900_000),       # diverse direction
        ],
        "vec_id long, embedding array<float>, rel_micro long",
    )
    out = mmr_rerank(cand, k=3, lambda_micro=700_000)
    picks = [r["picked_id"] for r in out.orderBy("pick").collect()]
    # relevance-only order would be [1, 2, 3]; MMR penalizes the twin
    assert picks == [1, 3, 2]
    # pure-relevance limit: lambda = 1 restores the relevance order
    out2 = mmr_rerank(cand, k=3, lambda_micro=1_000_000)
    assert [r["picked_id"] for r in out2.orderBy("pick").collect()] == [1, 2, 3]


def test_mutual_knn_pairs_hub_rejection(spark):
    from jobinsight_data_pipeline_spark.operators.similarity import (
        mutual_knn_pairs,
    )

    # a hub near everything, two tight twin clusters far apart: with
    # k=1 the twins confirm each other; the hub is everyone's n2 but
    # confirms nobody
    rows = [
        (0, [0.7, 0.7]),        # hub
        (1, [1.0, 0.01]),       # twin pair A
        (2, [1.0, 0.02]),
        (3, [0.01, 1.0]),       # twin pair B
        (4, [0.02, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"]): (r["rank_ab"], r["rank_ba"])
        for r in mutual_knn_pairs(df, k=1).collect()
    }
    assert set(pairs) == {(1, 2), (3, 4)}
    assert all(v == (1, 1) for v in pairs.values())


def test_top_session_paths_known_answers(spark):
    from jobinsight_data_pipeline_spark.operators.behavior import (
        top_session_paths,
    )

    def ts(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    rows = [
        # two sessions with the same a>b>c path
        ("s1", ts(0), "a", 1), ("s1", ts(1), "b", 2), ("s1", ts(2), "c", 3),
        ("s2", ts(0), "a", 4), ("s2", ts(1), "b", 5), ("s2", ts(2), "c", 6),
        # one session longer than max_steps: only the first 3 survive
        ("s3", ts(0), "a", 7), ("s3", ts(1), "b", 8), ("s3", ts(2), "c", 9),
        ("s3", ts(3), "d", 10),
        # simultaneous events order on the tiebreak
        ("s4", ts(0), "b", 12), ("s4", ts(0), "a", 11),
    ]
    df = spark.createDataFrame(
        rows, "sid string, ts timestamp_ntz, event_type string, event_id long"
    )
    out = {
        r["path"]: r["n_sessions"]
        for r in top_session_paths(df, "sid", max_steps=3, k=10).collect()
    }
    assert out == {"a>b>c": 3, "a>b": 1}


def test_dsir_select_prefers_target_like_docs(spark):
    """A raw doc written in the target pool's vocabulary must outrank
    raw docs written in a disjoint vocabulary, and the output must be
    exactly top_n with rank dense from 1."""
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.sampling import dsir_select

    rows = (
        # target pool: 'alpha beta' vocabulary
        [(i, "alpha beta alpha beta gamma", "tgt") for i in range(4)]
        # the plant: raw doc speaking the target vocabulary
        + [(100, "alpha beta gamma alpha", "raw")]
        # raw background: disjoint vocabulary
        + [(200 + i, "delta epsilon zeta delta epsilon", "raw") for i in range(6)]
    )
    df = spark.createDataFrame(rows, "doc_id: long, text: string, pool: string")
    out = dsir_select(
        df, "doc_id", "text", F.col("pool") == "tgt", buckets=64, top_n=3
    ).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["doc_id"] == 100
    assert out[0]["weight_micro"] > out[1]["weight_micro"]


def test_ewma_smooth_matches_bruteforce(spark):
    """ewma_smooth vs a per-row Python reference of the truncated dyadic
    EWMA over random multi-key integer series, including m < window
    short-history rows and negative values (div truncates toward zero
    on both engines)."""
    import random

    from jobinsight_data_pipeline_spark.operators.timeseries import ewma_smooth

    rng = random.Random(91)
    rows = []
    series: dict[int, list[int]] = {}
    for key in range(5):
        n = rng.randint(1, 20)
        vals = [rng.randint(-500, 5000) for _ in range(n)]
        series[key] = vals
        for pos, v in enumerate(vals):
            rows.append((key, pos, v))
    df = spark.createDataFrame(rows, "k: long, pos: long, v: long")
    out = {
        (r["k"], r["pos"]): r["ewma_milli"]
        for r in ewma_smooth(df, ["k"], ["pos"], "v", window=8).collect()
    }
    W = 8
    for key, vals in series.items():
        for pos in range(len(vals)):
            m = min(pos + 1, W)
            num = sum(
                vals[pos - i] * (2 ** (W - 1 - i)) for i in range(m)
            )
            den = 2**W - 2 ** (W - m)
            # truncate toward zero exactly (both engines' div semantics)
            q, _ = divmod(abs(num * 1000), den)
            expect = q if num >= 0 else -q
            assert out[(key, pos)] == expect, (key, pos, num, den)


def test_gram_matrix_exact_vs_numpy(spark):
    """gram_matrix equals the exact integer outer-product sum of the
    signed-quantized vectors (numpy int64 reference), symmetric."""
    import math

    import numpy as np

    from jobinsight_data_pipeline_spark.operators.clustering import gram_matrix

    rng = np.random.default_rng(7)
    vecs = (rng.standard_normal((40, 6)) * 0.3).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    g = gram_matrix(df, "embedding", dim=6, scale=10**6)
    q = np.floor(vecs.astype("float64") * 10**6).astype("int64")
    expect = q.T @ q
    assert np.array_equal(np.array(g, dtype="int64"), expect)
    assert np.array_equal(np.array(g), np.array(g).T)


def test_power_iteration_int_properties():
    """Deterministic, L∞-normalized to scale, first-nonzero-positive,
    and convergent to the dominant axis on an eigengap-friendly
    matrix; toward-zero division semantics pinned against DuckDB."""
    import duckdb

    from jobinsight_data_pipeline_spark.operators.clustering import (
        _tz_div,
        power_iteration_int,
    )

    # dominant axis 1 (eigenvalues ~ 100, 10, 1)
    g = [[100, 0, 0], [0, 10, 0], [0, 0, 1]]
    v = power_iteration_int(g, rounds=6, scale=10**6)
    assert v == power_iteration_int(g, rounds=6, scale=10**6)
    assert max(abs(x) for x in v) == 10**6
    assert v[0] == 10**6 and abs(v[1]) < 10 and abs(v[2]) < 10

    # sign orientation: a dominant direction that comes out negative
    # must be flipped to first-nonzero-positive
    g2 = [[100, -99], [-99, 100]]
    v2 = power_iteration_int(g2, rounds=8, scale=10**6)
    assert v2[0] > 0

    con = duckdb.connect()
    for a in (-7, 7, -1, 0, 999999, -999999):
        for b in (2, 3, -2, 10**6):
            duck = con.execute(
                "SELECT CAST(? AS BIGINT) // CAST(? AS BIGINT)", [a, b]
            ).fetchone()[0]
            assert _tz_div(a, b) == duck, (a, b)


def test_dsir_resample_structure_and_positive_shift(spark):
    """dsir_resample draws exactly n distinct RAW-pool docs, ranks dense
    from 1, shifts weights to the positive domain A-ES requires (min
    maps to exactly 1), and respects the weight/priority relation
    (lq6/weight descending)."""
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.sampling import (
        dsir_resample,
        dsir_weights,
    )

    rows = (
        [(i, "alpha beta alpha beta gamma", "tgt") for i in range(4)]
        + [(100 + i, "alpha beta gamma alpha", "raw") for i in range(5)]
        + [(200 + i, "delta epsilon zeta delta epsilon", "raw") for i in range(8)]
    )
    df = spark.createDataFrame(rows, "doc_id: long, text: string, pool: string")
    tgt = F.col("pool") == "tgt"
    out = dsir_resample(df, "doc_id", "text", tgt, n=6, buckets=64).collect()
    assert [r["rank"] for r in out] == list(range(1, 7))
    ids = [r["doc_id"] for r in out]
    assert len(set(ids)) == 6 and all(i >= 100 for i in ids)
    assert all(r["weight_shifted"] >= 1 for r in out)
    pri = [r["lq6"] / r["weight_shifted"] for r in out]
    assert pri == sorted(pri, reverse=True)
    # shift anchors the global minimum weight at exactly 1
    wmin = dsir_weights(df, "doc_id", "text", tgt, buckets=64).agg(
        F.min("weight_micro")
    ).first()[0]
    shifted_all = {
        r["doc_id"]: r["weight_shifted"]
        for r in dsir_resample(df, "doc_id", "text", tgt, n=13, buckets=64).collect()
    }
    full = {
        r["doc_id"]: r["weight_micro"]
        for r in dsir_weights(df, "doc_id", "text", tgt, buckets=64).collect()
    }
    assert min(shifted_all.values()) == 1
    for d, ws in shifted_all.items():
        assert ws == full[d] - wmin + 1


def test_gram_partials_merge_equals_direct(spark):
    """Gram partials over arbitrary shards sum-merge to the direct
    full-input Gram — the commutativity stream_pca's stream_state
    loop rests on."""
    import numpy as np
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.clustering import (
        _triangle_to_matrix,
        gram_matrix,
        gram_partials,
    )

    rng = np.random.default_rng(11)
    vecs = (rng.standard_normal((30, 5)) * 0.4).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    direct = gram_matrix(df, "embedding", dim=5)
    merged: dict[int, int] = {}
    for m in range(3):
        part = gram_partials(
            df.where(F.col("vec_id") % 3 == m), "embedding", dim=5
        ).collect()
        for r in part:
            merged[r["k"]] = merged.get(r["k"], 0) + r["g"]
    assert _triangle_to_matrix(merged, 5) == direct


def test_token_pmi_known_answer(spark):
    """Hand-computed PMI on a planted corpus: the glued pair ('neural',
    'network' — always adjacent) must outrank a chance-level pair, with
    exact integer micro-units."""
    import math

    from jobinsight_data_pipeline_spark.operators.textstats import token_pmi

    rows = [(i, "neural network the cat the dog") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = token_pmi(df, "text", min_count=2, top_n=50).collect()
    by_pair = {(r["w_a"], r["w_b"]): r for r in out}
    # totals: 24 tokens, 20 bigrams
    def q(x):
        return math.floor(math.log(x) * 1e6)

    nn = by_pair[("neural", "network")]
    assert nn["pair_n"] == 4
    assert nn["pmi_micro"] == q(4 / 20) - q(4 / 24) - q(4 / 24)
    # 'the cat' (pair 4, 'the' n=8): weaker association
    tc = by_pair[("the", "cat")]
    assert tc["pmi_micro"] == q(4 / 20) - q(8 / 24) - q(4 / 24)
    assert nn["pmi_micro"] > tc["pmi_micro"]
    assert out[0]["rank"] == 1


def test_pq_trained_books_equal_independent_sliced_fits(spark):
    """train_pq_codebooks_quantized's one-job-per-iteration fusion is an
    optimization, not a semantics change: each subspace's book must
    equal an INDEPENDENT kmeans_fit_quantized run on that slice of the
    vectors."""
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_fit_quantized,
        train_pq_codebooks_quantized,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    m, k, iters, dim = 4, 4, 2, 64
    sub = dim // m
    books = train_pq_codebooks_quantized(
        emb, "embedding", "vec_id", m=m, k=k, iterations=iters, dim=dim
    )
    for j in range(m):
        sliced = emb.select(
            "vec_id",
            F.expr(f"slice(embedding, {j * sub + 1}, {sub})").alias(
                "embedding"
            ),
        )
        solo = kmeans_fit_quantized(
            sliced, "embedding", "vec_id", k=k, iterations=iters
        )
        assert books[j] == solo, f"subspace {j} diverged"


def test_deflate_gram_finds_second_component():
    """On an eigengap-friendly diagonal Gram the deflated power
    iteration converges to the SECOND axis, near-orthogonal to the
    first; deterministic; zero top-vector degrades to the original."""
    from jobinsight_data_pipeline_spark.operators.clustering import (
        deflate_gram_int,
        power_iteration_int,
    )

    g = [[1000, 0, 0], [0, 100, 0], [0, 0, 10]]
    v1 = power_iteration_int(g, rounds=8, scale=10**6)
    assert v1[0] == 10**6 and abs(v1[1]) < 10
    g2 = deflate_gram_int(g, v1, down=10**3)
    v2 = power_iteration_int(g2, rounds=8, scale=10**6)
    assert v2[1] == 10**6 and abs(v2[0]) < 2000 and abs(v2[2]) < 2000
    assert v2 == power_iteration_int(g2, rounds=8, scale=10**6)
    # cosine(v1, v2) ~ 0
    dot = sum(a * b for a, b in zip(v1, v2))
    assert abs(dot) < 2e9  # |v1||v2| ~ 1e12 -> cos < 0.002
    assert deflate_gram_int(g, [0, 0, 0]) == g


def test_word_count_partials_merge_equals_direct(spark):
    """Per-shard corpus_words tables sum-merge to the direct full-corpus
    table — the commutativity stream_wordpiece's stream_state loop
    (and the vocabulary derived from its merged state) rests on."""
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.operators.wordpiece import (
        corpus_words,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    direct = {
        r["w"]: r["c"] for r in corpus_words(docs).collect()
    }
    merged: dict[str, int] = {}
    for m in range(4):
        part = corpus_words(docs.where(F.col("doc_id") % 4 == m)).collect()
        for r in part:
            merged[r["w"]] = merged.get(r["w"], 0) + r["c"]
    assert merged == direct


def test_hll_registers_merge_and_accuracy(spark):
    """The MAX-merged cardinality state: shard-merge must equal the
    direct single-pass build BIT-exactly (max commutes), re-merging a
    state with itself must be a no-op (idempotent — the replay story),
    and the float estimator lands within ~2σ of 1.04/√64 on exact
    distinct counts (the hash is fixed, so these errors are
    deterministic, not flaky)."""
    from jobinsight_data_pipeline_spark.operators.sketches import (
        hll_estimate_py,
        hll_merge,
        hll_registers,
    )

    df = spark.range(5000).selectExpr("id AS k")
    direct = {
        r["bucket"]: r["register"]
        for r in hll_registers(df, "k").collect()
    }
    shards = [
        hll_registers(df.where(f"k % 3 = {i}"), "k") for i in range(3)
    ]
    merged = {
        r["bucket"]: r["register"]
        for r in hll_merge(shards[0].union(shards[1]).union(shards[2]))
        .collect()
    }
    assert merged == direct
    # replay idempotence: merging the state with itself changes nothing
    s0 = hll_registers(df, "k")
    assert {
        (r["bucket"], r["register"])
        for r in hll_merge(s0.union(s0)).collect()
    } == set(direct.items())
    for n in (100, 1000, 5000, 60000):
        regs = {
            r["bucket"]: r["register"]
            for r in hll_registers(
                spark.range(n).selectExpr("id AS k"), "k"
            ).collect()
        }
        est = hll_estimate_py(regs)
        assert abs(est - n) / n < 0.30, (n, est)


def test_hll_estimate_micro_matches_float_reference(spark):
    """The engine-side integer estimator (hll_estimate_micro — the
    gated number) must track the float reference hll_estimate_py to
    within the α-quantization slack (α is floored to micro-units, the
    linear-counting table to micro-units: ≤ ~2e-6 relative), keep the
    2σ accuracy pin vs exact counts, and take the linear-counting
    branch at small cardinalities / the empty input to 0."""
    from jobinsight_data_pipeline_spark.operators.sketches import (
        hll_estimate_micro,
        hll_estimate_py,
        hll_registers,
    )

    for n in (10, 100, 1000, 5000):
        regs_df = hll_registers(
            spark.range(n).selectExpr("id AS k"), "k"
        )
        row = hll_estimate_micro(regs_df).head()
        est = row["est_micro"] / 1e6
        ref = hll_estimate_py(
            {r["bucket"]: r["register"] for r in regs_df.collect()}
        )
        assert abs(est - ref) / ref < 1e-4, (n, est, ref)
        assert abs(est - n) / n < 0.30, (n, est)
        assert row["present"] + row["zeros"] == 64
    empty = hll_registers(
        spark.createDataFrame([], "k: long"), "k"
    )
    row = hll_estimate_micro(empty).head()
    assert row["est_micro"] == 0 and row["zeros"] == 64, row


def test_reservoir_state_merge_equals_batch_draw(spark):
    """The k-max-priority merged shape (the seventh): merging per-shard
    reservoir states must reproduce the batch weighted_sample_exact_n
    draw BIT-exactly on any sharding; re-merging a state with itself
    (replay) changes nothing; and a shard containing fewer than n rows
    contributes everything it has."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reservoir_sample,
        reservoir_state,
        weighted_sample_exact_n,
    )

    df = spark.range(1, 2_001).selectExpr(
        "id AS k", "CAST(1 + id % 97 AS BIGINT) AS w"
    )
    batch = [
        tuple(r)
        for r in weighted_sample_exact_n(df, "k", "w", n=25).collect()
    ]
    for mod in (3, 7, 50):  # 50 shards → ~40 rows each, some near-empty
        shards = [
            reservoir_state(df.where(f"k % {mod} = {i}"), "k", "w", 25)
            for i in range(mod)
        ]
        states = shards[0]
        for s in shards[1:]:
            states = states.union(s)
        merged = [
            tuple(r)
            for r in reservoir_sample(states, "k", "w", n=25).collect()
        ]
        assert merged == batch, mod
    # replay idempotence
    s0 = reservoir_state(df, "k", "w", 25)
    doubled = [
        tuple(r)
        for r in reservoir_sample(s0.union(s0), "k", "w", 25).collect()
    ]
    assert doubled == batch
    # no-replacement: 25 distinct keys
    assert len({t[1] for t in batch}) == 25


def test_hll_rho_edges_and_null_keys(spark):
    """rho = 33 - length(bin(w)) with the w = 0 → 33 convention; NULL
    keys contribute nothing; buckets < 1 rejected."""
    import pytest as _pytest

    from jobinsight_data_pipeline_spark.operators.sketches import (
        _hll_rho,
        hll_registers,
    )
    from pyspark.sql import functions as F

    vals = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (2**31,), (2**32 - 1,)], "w long"
    )
    got = {
        r["w"]: r["rho"]
        for r in vals.select("w", _hll_rho(F.col("w")).alias("rho")).collect()
    }
    assert got == {0: 33, 1: 32, 2: 31, 3: 31, 2**31: 1, 2**32 - 1: 1}
    df = spark.createDataFrame([(1,), (None,)], "k: long")
    total = (
        hll_registers(df, "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()[0]["n"]
    )
    assert total == 1  # the NULL key is filtered, 1 key -> 1 bucket row
    with _pytest.raises(ValueError, match="buckets"):
        hll_registers(df, "k", buckets=0)


def test_retrieval_metrics_known_answer(spark):
    """Hand-computed MRR/NDCG/recall, independent of any ranker: the
    discount table is floor(1e6/log2(i+1)) = [1000000, 630929, 500000]
    at k=3. Queries appear iff they have ≥1 relevant doc; relevant docs
    outside the top-k count toward n_rel but not dcg/recall."""
    from jobinsight_data_pipeline_spark.operators.ranking import (
        ndcg_discounts_micro,
        retrieval_metrics,
    )

    assert ndcg_discounts_micro(3) == [1000000, 630929, 500000]
    ranked = spark.createDataFrame(
        [
            ("a", 5, 1), ("a", 2, 2), ("a", 9, 3), ("a", 1, 4),
            ("b", 7, 1), ("b", 8, 2),
            ("c", 4, 1), ("c", 6, 2),
        ],
        "query string, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 99), ("c", 4), ("c", 6)],
        "query string, doc_id long",
    )
    out = {
        r["query"]: r.asDict()
        for r in retrieval_metrics(ranked, qrels, k=3).collect()
    }
    # a: one hit at rank 2 (d1@4 is past k); idcg = prefix[3] = 2130929
    assert out["a"]["n_rel"] == 3 and out["a"]["n_rel_topk"] == 1
    assert out["a"]["mrr_micro"] == 500000
    assert out["a"]["dcg_micro"] == 630929
    assert out["a"]["idcg_micro"] == 2130929
    assert out["a"]["ndcg_micro"] == (630929 * 1000000) // 2130929
    assert out["a"]["recall_micro"] == 333333
    # b: relevant doc never retrieved -> all-zero metrics, n_rel intact
    assert out["b"]["n_rel"] == 1 and out["b"]["n_rel_topk"] == 0
    assert out["b"]["mrr_micro"] == 0 and out["b"]["ndcg_micro"] == 0
    # c: perfect two-hit ranking -> ndcg == recall == 10^6
    assert out["c"]["dcg_micro"] == out["c"]["idcg_micro"] == 1630929
    assert out["c"]["ndcg_micro"] == 1000000
    assert out["c"]["recall_micro"] == 1000000
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be >= 1"):
        retrieval_metrics(ranked, qrels, k=0)


def test_zorder_locality_prunes_both_dimensions(spark):
    """The property Z-order layout buys (measured at sf0.01: 20/64 and
    16/64 blocks touched vs 8/64 + 64/64 for a single-column sort): a
    ~10%-of-domain range filter on EITHER interleaved dimension
    intersects a bounded fraction of contiguous min/max blocks, where
    the single-column sort scans EVERYTHING on the other dimension.
    Pinned loosely (≤ 36/64) so quantizer tweaks can't flake it."""
    import pyspark.sql.functions as F

    from jobinsight_data_pipeline_spark.operators.zorder import (
        block_minmax,
        zorder_key_quantized,
    )

    o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
        .cast("long")
        .alias("epoch_day"),
    )
    keyed = zorder_key_quantized(o, ["o_custkey", "epoch_day"], bits=16)
    r = keyed.agg(
        F.min("o_custkey").alias("a"), F.max("o_custkey").alias("b"),
        F.min("epoch_day").alias("c"), F.max("epoch_day").alias("d"),
    ).collect()[0]
    ranges = {
        "o_custkey": (r["a"] + (r["b"] - r["a"]) // 2,
                      r["a"] + (r["b"] - r["a"]) // 2 + (r["b"] - r["a"]) // 10),
        "epoch_day": (r["c"] + (r["d"] - r["c"]) // 2,
                      r["c"] + (r["d"] - r["c"]) // 2 + (r["d"] - r["c"]) // 10),
    }

    def touched(sort_col: str, dim: str) -> int:
        lo, hi = ranges[dim]
        blocks = block_minmax(
            keyed, sort_col, ["o_custkey", "epoch_day"], 64
        ).collect()
        return sum(
            1
            for b in blocks
            if not (b[f"max_{dim}"] < lo or b[f"min_{dim}"] > hi)
        )

    # z-order: bounded skipping on BOTH dimensions
    assert touched("zkey", "o_custkey") <= 36
    assert touched("zkey", "epoch_day") <= 36
    # single-column sort: great on its own column, blind on the other
    assert touched("o_custkey", "o_custkey") <= 16
    assert touched("o_custkey", "epoch_day") == 64


def test_zorder_quantize_wide_domain_no_overflow(spark):
    """The ANSI-overflow guard (r10 ADVICE): a column whose range
    exceeds 2^(61-bits) pre-shifts before the multiply instead of
    throwing; buckets stay in [0, 2^bits), monotone in the input, and
    narrow domains still use the exact unshifted formula."""
    import pyspark.sql.functions as F

    from jobinsight_data_pipeline_spark.operators.zorder import (
        zorder_quantize,
    )

    wide = spark.createDataFrame(
        [(0,), (1 << 20,), (1 << 40,), (1 << 55,), ((1 << 58) - 1,)],
        "x long",
    )
    rows = (
        zorder_quantize(wide, ["x"], bits=16)
        .select("x", "__q0")
        .orderBy("x")
        .collect()
    )
    qs = [r["__q0"] for r in rows]
    assert all(0 <= q < 2**16 for q in qs), qs
    assert qs == sorted(qs), qs  # monotone
    assert qs[0] == 0 and qs[-1] == 2**16 - 1, qs
    # narrow domain: exact unshifted formula (shift = 0)
    narrow = spark.createDataFrame([(i,) for i in range(100)], "x long")
    nq = {
        r["x"]: r["__q0"]
        for r in zorder_quantize(narrow, ["x"], bits=16).collect()
    }
    assert all(nq[i] == (i * 2**16) // 100 for i in range(100))
    # r11 ADVICE: the shift==0 boundary must be EXACT — ranges that sit
    # exactly at / just below / just above the 2^(62-bits) cliff, where
    # a 1-ulp log2 overestimate would have flipped shift to 1 and
    # broken the documented byte-identity with the plain formula
    for rng in (2**46 - 2, 2**46 - 1, 2**46, 2**46 + 1, 2**45):
        probe = spark.createDataFrame(
            [(0,), (rng // 3,), (rng,)], "x long"
        )
        got = {
            r["x"]: r["__q0"]
            for r in zorder_quantize(probe, ["x"], bits=16).collect()
        }
        if rng <= 2**46 - 1:  # L <= 45 -> shift 0: plain formula
            assert got == {
                x: (x * 2**16) // (rng + 1) for x in (0, rng // 3, rng)
            }, (rng, got)
        assert 0 <= got[rng] < 2**16 and got[0] == 0
        assert got[0] <= got[rng // 3] <= got[rng]
    # int64-ceiling domain: no ANSI overflow, endpoints still span
    huge = spark.createDataFrame(
        [(-(2**62),), (0,), (2**62 - 1,)], "x long"
    )
    hq = {
        r["x"]: r["__q0"]
        for r in zorder_quantize(huge, ["x"], bits=16).collect()
    }
    assert hq[-(2**62)] == 0 and 0 <= hq[2**62 - 1] < 2**16
    assert hq[-(2**62)] <= hq[0] <= hq[2**62 - 1]


def test_zorder_key_bit_layout_and_errors(spark):
    """interleave_bits puts bit b of column i at position b*n + i —
    pinned on hand values; quantizer handles NULLs and the full-range
    endpoints; overflow and arity guards raise."""
    import pyspark.sql.functions as F

    from jobinsight_data_pipeline_spark.operators.zorder import (
        zorder_key,
        zorder_key_quantized,
        zorder_quantize,
    )

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5)], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key(["x", "y"], 4).alias("z")
        ).collect()
    }
    # x owns even bit positions, y odd: (1,0)->1, (0,1)->2,
    # (3,5) = x bits {0,1} -> 1+4; y bits {0,2} -> 2+32 => 39
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2
    assert got[(3, 5)] == 39
    with pytest.raises(ValueError, match="exceeds a signed long"):
        zorder_key(["x", "y"], 32)
    # quantizer: endpoints land in [0, 2^bits), NULL -> 0
    q = zorder_quantize(
        spark.createDataFrame([(0,), (100,), (None,)], "v: long"),
        ["v"],
        bits=8,
    )
    vals = {r["v"]: r["__q0"] for r in q.collect()}
    assert vals[0] == 0 and 0 <= vals[100] < 256 and vals[None] == 0
    # composed key column exists, scratch dropped
    cols = zorder_key_quantized(df, ["x", "y"], bits=8).columns
    assert "zkey" in cols and "__q0" not in cols


def test_source_overlap_matrix_asymmetry_and_exactness(spark):
    """A tiny source fully contained in a big one reads 10^6 ppm from
    its own side and a small share from the other — the asymmetric
    curation signal; disjoint sources produce NO pair row."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        source_overlap_matrix,
    )

    rows = [
        # big: 10 shingles; tiny: its 2 shingles are big's first 2
        ("big", "a b c d e f g h i j k l"),
        ("tiny", "a b c d"),
        ("island", "x y z w v"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        (r["src_a"], r["src_b"]): r.asDict()
        for r in source_overlap_matrix(df, "source", "text", n=3).collect()
    }
    assert out[("tiny", "big")]["containment_ppm"] == 1_000_000
    assert out[("tiny", "big")]["n_a"] == 2
    assert out[("big", "tiny")]["containment_ppm"] == (2 * 1_000_000) // 10
    assert not any("island" in k for k in out)


def test_stratified_reservoir_merge_equals_batch_pick(spark):
    """The per-group k-extreme merged shape: merging per-shard
    stratified states must reproduce the batch stratified_sample_exact
    pick EXACTLY on any sharding; replay changes nothing; strata
    smaller than n contribute everything."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        stratified_reservoir_sample,
        stratified_reservoir_state,
        stratified_sample_exact,
    )

    df = spark.range(1, 1_001).selectExpr(
        "id AS k", "CAST(id % 13 AS STRING) AS s"
    )
    batch = {
        (r["s"], r["k"])
        for r in stratified_sample_exact(
            df.select("s", "k"), ["s"], "k", 5, salt="t"
        ).collect()
    }
    for mod in (4, 11):
        shards = [
            stratified_reservoir_state(
                df.where(f"k % {mod} = {i}"), ["s"], "k", 5, salt="t"
            )
            for i in range(mod)
        ]
        states = shards[0]
        for sh in shards[1:]:
            states = states.union(sh)
        merged = {
            (r["s"], r["k"])
            for r in stratified_reservoir_sample(
                states, ["s"], "k", 5, salt="t"
            ).collect()
        }
        assert merged == batch, mod
    s0 = stratified_reservoir_state(df, ["s"], "k", 5, salt="t")
    doubled = {
        (r["s"], r["k"])
        for r in stratified_reservoir_sample(
            s0.union(s0), ["s"], "k", 5, salt="t"
        ).collect()
    }
    assert doubled == batch
    # every stratum contributes exactly 5 (1000 rows / 13 strata > 5)
    from collections import Counter

    per = Counter(s for s, _ in batch)
    assert all(v == 5 for v in per.values())


def test_histogram_shard_merge_equals_single_shot(spark):
    """The eighth mergeable-state shape's merge law: per-shard
    histogram states cell-wise-SUM into exactly the single-shot
    histogram, for 3- and 7-way shardings (order irrelevant — sums
    commute), and quantile extraction over the merged state equals
    extraction over the single-shot state row-for-row."""
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_spark.catalog import load
    from jobinsight_data_pipeline_spark.operators.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_state,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events")["events"]
    single = histogram_state(ev, "value", "event_type")
    want = {
        (r["event_type"], r["bucket"]): r["cnt"] for r in single.collect()
    }
    for ways in (3, 7):
        parts = [
            histogram_state(
                ev.where(F.col("event_id") % ways == i),
                "value",
                "event_type",
            )
            for i in range(ways)
        ]
        merged = histogram_merge(
            functools.reduce(lambda a, b: a.unionAll(b), parts)
        )
        got = {
            (r["event_type"], r["bucket"]): r["cnt"]
            for r in merged.collect()
        }
        assert got == want, f"{ways}-way shard merge diverged"
    q_single = {
        (r["event_type"], r["q_pct"]): (r["q_rank"], r["bucket"])
        for r in histogram_quantiles(single).collect()
    }
    q_merged = {
        (r["event_type"], r["q_pct"]): (r["q_rank"], r["bucket"])
        for r in histogram_quantiles(merged).collect()
    }
    assert q_single == q_merged


def test_histogram_quantile_bucket_is_grid_quantized_exact_quantile(spark):
    """The cross-path pin the gate's docstring claims: the histogram's
    q-bucket equals the bucket of the EXACT type-1 (ceil-rank) order
    statistic — i.e. the sketch answer is the exact quantile quantized
    to the grid, not an approximation with error."""
    import math

    from jobinsight_data_pipeline_spark.catalog import load
    from jobinsight_data_pipeline_spark.operators.sketches import (
        histogram_quantiles,
        histogram_state,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events")["events"]
    state = histogram_state(ev, "value", "event_type")
    got = {
        (r["event_type"], r["q_pct"]): r["bucket"]
        for r in histogram_quantiles(state).collect()
    }
    by_type: dict[str, list[float]] = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for et, vals in by_type.items():
        vals.sort()
        for q in (50, 90, 99):
            rank = (len(vals) * q + 99) // 100
            vstar = vals[rank - 1]
            bucket = min(255, max(0, int(math.floor(vstar * 256 / 1024.0))))
            assert got[(et, q)] == bucket, (et, q, vstar)
