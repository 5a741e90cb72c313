"""Text-analysis operators for training-data pipelines.

All native Column expressions (JVM-side, whole-stage codegen): tokenize,
quality stats, language guess, fingerprinting. Designed to run over
billions of documents — per-row independent, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


#: tiny embedded stopword lists (language-id heuristic; extend per corpus)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "vi": ["của", "và", "là", "các", "cho", "được"],
}


def tokens(text: ColumnOrName) -> Column:
    """Whitespace tokenization (the baseline tokenizer; BPE-ish regex
    token counting available via ``bpe_ish_token_count``)."""
    return F.split(F.trim(_col(text)), r"\s+")


def word_count(text: ColumnOrName) -> Column:
    t = _col(text)
    return F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(tokens(t)))


def unique_word_count(text: ColumnOrName) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: ColumnOrName, lang: str = "en") -> Column:
    stops = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda w: F.lower(w).isin(stops)))


def punct_count(text: ColumnOrName) -> Column:
    """Number of non-alphanumeric, non-space characters."""
    return F.length(F.regexp_replace(_col(text), r"[\w\s]", ""))


def bpe_ish_token_count(text: ColumnOrName) -> Column:
    """Approximate subword token count: word runs + individual punctuation
    marks (a cheap, deterministic proxy for BPE tokenizers — good enough
    for length-bucketing training data). ``(?U)`` keeps ``\\w`` Unicode
    (Vietnamese letters count as word chars)."""
    pieces = F.regexp_extract_all(_col(text), F.lit(r"(?U)\w+|[^\w\s]"), F.lit(0))
    return F.size(pieces)


def lang_guess(text: ColumnOrName) -> Column:
    """N-gram/stopword heuristic language id: scores each configured
    language by stopword hits, picks the max (ties → first in dict
    order), 'und' when nothing matches."""
    t = _col(text)
    scores = [
        (code, stopword_count(t, code)) for code in STOPWORDS
    ]
    best_code = F.lit("und")
    best_score = F.lit(0)
    for code, score in scores:
        take = score > best_score
        best_code = F.when(take, F.lit(code)).otherwise(best_code)
        best_score = F.when(take, score).otherwise(best_score)
    return best_code


#: Function-word profiles for full language identification (Grefenstette
#: 1995's "short word" technique — comparable accuracy to trigram models
#: at a fraction of the cost, and exactly reproducible in ANSI SQL).
#: Top-frequency closed-class words per language, all public knowledge.
#: Dict INSERTION ORDER is the tie-break: the first profile reaching the
#: max hit count wins. Kept separate from STOPWORDS so extending the
#: language set can never shift `lang_guess`'s default (en, vi) outputs,
#: which the text_stats oracle pins.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "was", "that", "for",
           "on", "are", "with", "as", "it", "at", "by", "this", "have",
           "from", "be"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "du", "en",
           "que", "qui", "dans", "pour", "est", "pas", "ne", "ce", "il",
           "au"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "zu", "den", "von", "mit", "auf", "für", "im", "sich", "dem",
           "des", "ich", "sie"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
           "es", "no", "por", "con", "para", "del", "se", "al", "lo",
           "como"],
    "vi": ["của", "và", "là", "các", "cho", "được", "một", "những", "có",
           "không", "người", "trong", "đã", "với", "này", "khi", "đến",
           "về", "cũng", "như"],
}


def with_language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Per-document language identification over function-word profiles.

    Appends three columns:
      * ``lang_pred``       — winning language code, ``'und'`` when no
        profile scores a hit;
      * ``lang_hits``       — the winner's hit count (BIGINT);
      * ``lang_conf_ppm``   — hits per million tokens, exact integer
        arithmetic (``hits * 1_000_000 div n_tokens``; 0 for empty docs)
        so the value is bit-identical on any engine — no float division.

    Scoring is one scan-fused pass: the token array materializes once per
    row (codegen subexpression elimination collapses the repeated
    ``tokens()`` subtree) and each profile contributes a single
    ``size(filter(...))`` lambda — no UDF, no shuffle, linear in corpus
    bytes, so the operator runs at parquet-scan speed on any corpus size
    (the input is widened to the cluster's cores first, so a
    single-split scan does not score on one task). Ties resolve to the
    FIRST profile in dict order (stable across engines and
    partitionings).

    Reference parity: the reference pipeline carries a `lang` column on
    crawled docs but never computes it; this supplies the standard
    pre-training-corpus language filter (CCNet/C4 both gate on lang-id).
    """
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reserve_columns,
    )

    reserve_columns(
        df, ["lang_pred", "lang_hits", "lang_conf_ppm", "__n_tokens"],
        "with_language_id",
    )
    df = widen_for_cpu(df)
    prof = profiles if profiles is not None else LANG_PROFILES
    t = _col(text_col)
    toks = tokens(t)
    n_tokens = F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(toks))
    best_code = F.lit("und")
    best_score = F.lit(0).cast("bigint")
    for code, words in prof.items():
        hits = F.size(
            F.filter(toks, lambda w: F.lower(w).isin(words))
        ).cast("bigint")
        take = hits > best_score
        best_code = F.when(take, F.lit(code)).otherwise(best_code)
        best_score = F.when(take, hits).otherwise(best_score)
    out = (
        df.withColumn("lang_pred", best_code)
        .withColumn("lang_hits", best_score)
        .withColumn("__n_tokens", n_tokens.cast("bigint"))
        .withColumn(
            "lang_conf_ppm",
            F.expr(
                "CASE WHEN __n_tokens > 0 "
                "THEN (lang_hits * 1000000) div __n_tokens "
                "ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )
    return out.drop("__n_tokens")


def quality_score(text: ColumnOrName) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, high
    punctuation density, low vocabulary diversity. Deterministic, cheap,
    and monotone in each signal — the standard pre-training filter shape."""
    t = _col(text)
    n = word_count(t)
    length_ok = F.least(n / F.lit(50.0), F.lit(1.0))
    diversity = F.when(n > 0, unique_word_count(t) / n).otherwise(F.lit(0.0))
    punct_density = F.when(
        F.length(t) > 0, punct_count(t) / F.length(t)
    ).otherwise(F.lit(1.0))
    return F.round(
        0.4 * length_ok + 0.4 * diversity + 0.2 * (1 - F.least(punct_density * 5, F.lit(1.0))),
        4,
    )


def fingerprint(text: ColumnOrName) -> Column:
    """64-bit document fingerprint (xxhash64 of the normalized text —
    collapse whitespace + lowercase). Exact-dup detection key."""
    normalized = F.lower(F.regexp_replace(F.trim(_col(text)), r"\s+", " "))
    return F.xxhash64(normalized)


def lines(text: ColumnOrName) -> Column:
    """Non-empty trimmed lines."""
    raw = F.split(_col(text), r"\n")
    return F.filter(F.transform(raw, F.trim), lambda ln: ln != "")


def duplicate_line_fraction(text: ColumnOrName) -> Column:
    """Gopher-style repetition signal: fraction of lines that are exact
    duplicates of an earlier line (0.0 for empty docs)."""
    ls = lines(text)
    n = F.size(ls)
    return F.when(
        n > 0, F.round(1.0 - F.size(F.array_distinct(ls)) / n, 4)
    ).otherwise(F.lit(0.0))


def duplicate_word_fraction(text: ColumnOrName) -> Column:
    t = _col(text)
    n = word_count(t)
    return F.when(
        n > 0, F.round(1.0 - unique_word_count(t) / n, 4)
    ).otherwise(F.lit(0.0))


def mean_word_length(text: ColumnOrName) -> Column:
    t = _col(text)
    n = word_count(t)
    total = F.aggregate(
        tokens(t), F.lit(0), lambda acc, w: acc + F.length(w)
    )
    return F.when(n > 0, F.round(total / n, 4)).otherwise(F.lit(0.0))


def word_bigrams(text: ColumnOrName) -> Column:
    """Adjacent word 2-grams joined with a single space."""
    w = tokens(_col(text))
    return F.transform(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda x, i: F.concat(x, F.lit(" "), F.element_at(w, i + 2)),
    )


def top_bigram_char_fraction(text: ColumnOrName) -> Column:
    """Gopher-style: fraction of the (whitespace-normalized) text's
    characters covered by occurrences of the most frequent word 2-gram.

    Computed per-row with NO shuffle: sort the bigram array, then a
    single higher-order ``aggregate`` fold finds the longest run (= the
    mode of a sorted array). Ties break to the lexicographically
    smallest gram (strict > while folding in sorted order) — the oracle
    must use ORDER BY count DESC, gram ASC. O(k log k) per doc vs the
    explode+groupBy formulation's full (doc, gram) shuffle."""
    t = _col(text)
    grams = F.array_sort(word_bigrams(t))
    state = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("best_gram"),
    )

    def step(acc: Column, x: Column) -> Column:
        run2 = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run2 > acc["best"]
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.when(better, run2).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["best_gram"]).alias("best_gram"),
        )

    mode = F.aggregate(grams, state, step)
    total_chars = F.length(F.concat_ws(" ", tokens(t)))
    return F.when(
        (F.size(grams) > 0) & (total_chars > 0),
        F.round(mode["best"] * F.length(mode["best_gram"]) / total_chars, 4),
    ).otherwise(F.lit(0.0))


def bullet_line_fraction(text: ColumnOrName) -> Column:
    ls = lines(text)
    n = F.size(ls)
    bullets = F.size(
        F.filter(ls, lambda ln: ln.rlike(r"^([-*•‣▪]|\d+[.)])\s"))
    )
    return F.when(n > 0, F.round(bullets / n, 4)).otherwise(F.lit(0.0))


def ellipsis_line_fraction(text: ColumnOrName) -> Column:
    ls = lines(text)
    n = F.size(ls)
    ell = F.size(F.filter(ls, lambda ln: ln.rlike(r"(\.\.\.|…)$")))
    return F.when(n > 0, F.round(ell / n, 4)).otherwise(F.lit(0.0))


def with_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the Gopher-style repetition/format quality block in one
    narrow projection — per-row independent, shuffle-free, codegen'd
    (the higher-order fold included); filters built on it (e.g.
    dup_line_frac < 0.3 AND top_bigram_frac < 0.18) push down to the
    scan like any other predicate."""
    return (
        widen_for_cpu(df)
        .withColumn("dup_line_frac", duplicate_line_fraction(text_col))
        .withColumn("dup_word_frac", duplicate_word_fraction(text_col))
        .withColumn("mean_word_len", mean_word_length(text_col))
        .withColumn("top_bigram_frac", top_bigram_char_fraction(text_col))
        .withColumn("bullet_line_frac", bullet_line_fraction(text_col))
        .withColumn("ellipsis_line_frac", ellipsis_line_fraction(text_col))
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stats block in one narrow projection (widened
    first: the regex battery is CPU-dense scan-stage work)."""
    return (
        widen_for_cpu(df).withColumn("n_words", word_count(text_col))
        .withColumn("n_unique_words", unique_word_count(text_col))
        .withColumn("stop_count_en", stopword_count(text_col, "en"))
        .withColumn("punct_chars", punct_count(text_col))
        .withColumn("approx_tokens", bpe_ish_token_count(text_col))
        .withColumn("lang_guess", lang_guess(text_col))
        .withColumn("quality", quality_score(text_col))
        .withColumn("fingerprint", fingerprint(text_col))
    )


# --- C4-style heuristic filters (Raffel et al. 2020, §2.2) ------------------
# Doc/line-level cleanup rules the C4 pipeline applies before training:
# terminal-punctuation lines, minimum sentence counts, code/boilerplate
# markers, plus the Gopher doc-shape guards (alphabetic-word fraction,
# required-stopword presence). All native Column expressions — per-row,
# shuffle-free, whole-stage-codegen'd.

#: Gopher's required-stopword list: a document is expected to contain
#: at least two of these (MassiveText quality filter).
REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def terminal_punct_line_fraction(text: ColumnOrName) -> Column:
    """Fraction of non-empty lines ending in terminal punctuation
    (C4 keeps only such lines)."""
    ls = lines(text)
    n = F.size(ls)
    ok = F.size(F.filter(ls, lambda ln: ln.rlike(r"[.!?…\"”]$")))
    return F.when(n > 0, F.round(ok / n, 4)).otherwise(F.lit(0.0))


def short_line_fraction(text: ColumnOrName, min_words: int = 5) -> Column:
    """Fraction of non-empty lines with fewer than ``min_words`` words
    (C4 drops lines under 5 words)."""
    ls = lines(text)
    n = F.size(ls)
    short = F.size(
        F.filter(ls, lambda ln: F.size(F.split(ln, r"\s+")) < min_words)
    )
    return F.when(n > 0, F.round(short / n, 4)).otherwise(F.lit(0.0))


def sentence_count(text: ColumnOrName) -> Column:
    """Terminal-punctuation-run count — the cheap sentence proxy C4 uses
    for its ≥3-sentence rule."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(r"[.!?]+"), F.lit(0)))


def alpha_word_fraction(text: ColumnOrName) -> Column:
    """Fraction of words containing at least one letter (Gopher keeps
    docs where ≥80% of words do)."""
    t = _col(text)
    n = word_count(t)
    alpha = F.size(F.filter(tokens(t), lambda w: w.rlike(r"\p{L}")))
    return F.when(n > 0, F.round(alpha / n, 4)).otherwise(F.lit(0.0))


def symbol_word_ratio(text: ColumnOrName) -> Column:
    """(# + ellipsis occurrences) / words (Gopher drops ratios > 0.1)."""
    t = _col(text)
    n = word_count(t)
    syms = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\.|…"), F.lit(0)))
    return F.when(n > 0, F.round(syms / n, 4)).otherwise(F.lit(0.0))


def required_stopword_presence(text: ColumnOrName) -> Column:
    """How many DISTINCT required stopwords the document contains."""
    toks = F.array_distinct(F.transform(tokens(text), F.lower))
    return F.size(
        F.filter(toks, lambda w: w.isin(REQUIRED_STOPWORDS))
    )


def with_c4_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the C4/Gopher heuristic-filter block plus the combined
    ``c4_keep`` verdict (the doc-level rules: ≥3 sentences, no
    'lorem ipsum', no '{', ≥80% alphabetic words, mean word length in
    [3, 10], ≥2 required stopwords). Line-level fractions are emitted as
    signals so callers can re-threshold instead of re-scanning."""
    t = F.col(text_col)
    out = (
        widen_for_cpu(df)
        .withColumn("terminal_punct_line_frac", terminal_punct_line_fraction(t))
        .withColumn("short_line_frac", short_line_fraction(t))
        .withColumn("sentence_cnt", sentence_count(t))
        .withColumn("alpha_word_frac", alpha_word_fraction(t))
        .withColumn("symbol_word_ratio", symbol_word_ratio(t))
        .withColumn("stopword_presence", required_stopword_presence(t))
        .withColumn("mean_word_len", mean_word_length(t))
        .withColumn("has_lorem_ipsum", F.contains(F.lower(t), F.lit("lorem ipsum")))
        .withColumn("has_curly_brace", F.contains(t, F.lit("{")))
    )
    return out.withColumn(
        "c4_keep",
        (F.col("sentence_cnt") >= 3)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_curly_brace")
        & (F.col("alpha_word_frac") >= 0.8)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("stopword_presence") >= 2),
    )


# --- corpus-LM quality scoring (CCNet-style) --------------------------------
# CCNet ranks web documents by a language-model perplexity; the honest
# no-external-model equivalent is a corpus-derived unigram LM: one
# aggregation builds the vocabulary, one explode+join+re-agg scores every
# document by its mean token log-probability. Gibberish, boilerplate, and
# wrong-language text all score far below fluent prose.


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    vocab_limit: int | None = None,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    add-one-smoothed unigram distribution.

    Two shuffles: the vocabulary aggregation (map-side partial combine on
    the word key) and the word→vocab equi-join + per-doc re-aggregation.
    ``vocab_limit`` caps the vocabulary at the N most frequent words
    (ties broken by word; everything else scores as an unseen token) —
    at web scale the capped vocabulary broadcasts, turning the score
    join into a map-side lookup. Tokens are lowercased whitespace words
    (the same tokenizer every other textstats signal uses).

    Returns ``(id_col, n_scored_tokens, mean_logprob)`` — higher is more
    fluent relative to the corpus. Empty/whitespace docs score NULL.
    """
    words = df.select(
        F.col(id_col), F.explode(F.transform(tokens(text_col), F.lower)).alias("w")
    ).where(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    if vocab_limit is not None:
        keep = Window.orderBy(F.desc("c"), F.asc("w"))
        vocab = (
            vocab.withColumn("_r", F.row_number().over(keep))
            .where(F.col("_r") <= vocab_limit)
            .drop("_r")
        )
    totals = vocab.agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("v")
    )
    # add-one smoothing over the (possibly capped) vocabulary + 1 OOV bin.
    # Broadcast ONLY the capped vocabulary (bounded by construction); the
    # uncapped full vocabulary is corpus-sized — that join must shuffle
    # on the word key (AQE may still broadcast it when it proves small).
    vocab_side = F.broadcast(vocab) if vocab_limit is not None else vocab
    scored = (
        words.join(vocab_side, "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1))
                / (F.col("tot") + F.col("v") + F.lit(1))
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored_tokens"),
        F.round(F.avg("lp"), 4).alias("mean_logprob"),
    )


# --- document chunking ------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into whitespace-token windows of
    ``chunk_tokens`` with ``overlap`` tokens of context carry-over — the
    slicing step RAG indexes and fixed-window pretraining both need.

    Pure array Column arithmetic (sequence → slice → posexplode): per-row
    independent, shuffle-free, codegen'd; the fan-out multiplies rows,
    never widens state. Empty/whitespace docs emit no chunks. Returns
    ``(id_col, chunk_id, chunk_n_tokens, chunk_text)``.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    w = tokens(text_col)
    n = F.size(w)
    starts = F.sequence(F.lit(0), n - 1, F.lit(step))
    chunks = F.transform(
        starts, lambda s: F.slice(w, s + 1, chunk_tokens)
    )
    return (
        df.where(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_id", "_toks"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("_toks").alias("chunk_n_tokens"),
            F.concat_ws(" ", "_toks").alias("chunk_text"),
        )
    )


# PII redaction: applied sequentially (each class counts matches in the
# text the previous classes already redacted, then replaces them), so
# the classes compose without double-counting. Patterns stay inside the
# Java-regex ∩ RE2 common subset (no lookaround, no backreferences) —
# the scrub is reproducible on any engine. Email precedes IP so dotted
# domains are gone before the all-digit IP scan; SSN precedes phone so
# the 3-2-4 grouping isn't half-eaten by the 3-3-4 one.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[ .-]\d{3}[ .-]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Scrub emails / SSNs / phone numbers / IPv4s from a text column,
    emitting the redacted text plus one ``n_<class>`` count per class —
    the PII-masking pass of a training-data pipeline (cf. C4/Dolma
    scrubbing). Pure native-regex projection: scan-fused, shuffle-free,
    no UDF."""
    cur = F.col(text_col)
    counts = []
    for name, pat, tok in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, tok)
    return df.select("*", *counts, cur.alias(out_col))


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with dense 0-based ids: rank tokens by
    (count DESC, token ASC) — deterministic, engine-portable (no
    monotonically_increasing_id), truncatable to ``max_size`` for a
    broadcastable model. Returns (token, token_id, count).

    The ranking window is a single global sort over the vocabulary —
    DISTINCT tokens, not corpus tokens — which is the standard tokenizer
    assumption (vocab ≪ corpus; cap with max_size if a corpus breaks
    it). Empty/whitespace-only documents contribute nothing (and emit
    nothing from ``encode_documents`` — repair or drop them upstream)."""
    counts = (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("count"), F.asc("token"))
    vocab = counts.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("int")
    )
    if max_size is not None:
        vocab = vocab.filter(F.col("token_id") < max_size)
    return vocab.select("token", "token_id", "count")


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_id: int = -1,
) -> DataFrame:
    """Tokenize every document to vocabulary ids — the doc→ids step a
    training pipeline runs before sequence packing. Out-of-vocabulary
    tokens encode as ``oov_id``.

    Positions ride through posexplode, the vocab join broadcasts when
    the model is capped (hint it yourself for a known-small vocab), and
    per-doc arrays re-assemble with an order-pinned aggregation — no
    assumption that shuffle preserves order. Returns
    (id, ids: array<int>, n_tokens, n_oov)."""
    from jobinsight_data_pipeline_spark.operators.parallelism import (
        ordered_collect,
    )

    # tokenize+explode is CPU-dense scan work — widen when the source's
    # row-group count under-parallelizes it (the shingles pattern)
    # empty/whitespace-only documents carry ZERO tokens (the word_count
    # contract) — without the guard, split("") yields a phantom '' token
    # that can enter the vocabulary and leak into training sequences
    pos = widen_for_cpu(df.where(F.trim(F.col(text_col)) != "")).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "token")
    )
    joined = pos.join(vocab.select("token", "token_id"), "token", "left")
    tid = F.coalesce(F.col("token_id"), F.lit(oov_id)).cast("int")
    return (
        joined.withColumn("_tid", tid)
        .groupBy(id_col)
        .agg(
            ordered_collect("pos", "_tid").alias("ids"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("_tid") == oov_id).cast("long")).alias("n_oov"),
        )
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    mode: str = "keep_first",
    max_df: int | None = None,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup — the Dolma/RefinedWeb
    line-dedup stage: a boilerplate paragraph ("subscribe to our
    newsletter…") repeated across thousands of pages is removed from the
    text while the unique prose stays, which document-level dedup can
    never do.

    Paragraphs are the ``sep`` splits of ``text_col`` — ``sep`` is a
    Java regex (Spark's split contract); keep it metachar-free (plain
    ``\\n`` / ``\\n\\n+``) when mirroring with a literal-split engine.
    Structure is preserved (no trimming of the segments themselves,
    empty segments kept as layout); a paragraph's
    identity is ``md5(trim(paragraph))`` and whitespace-only segments are
    never deduped (they are layout, not content).

    Modes:
    - ``keep_first``: an occurrence survives iff it is the globally first
      — minimal ``(id, pos)`` — for its content hash. Deterministic under
      any partitioning, no wall-clock or load-order dependence.
    - ``drop_common``: drop every occurrence whose content appears in
      more than ``max_df`` DISTINCT documents (pure boilerplate filter;
      symmetric, keeps nothing of the offender).

    Plan: posexplode → per-hash stats via groupBy (NOT a window: a
    window partitioned by the hash ships every occurrence of a hot
    boilerplate hash to one task, while groupBy partial-aggregates
    map-side so a hash repeated 10⁶ times costs O(partitions) rows in
    the shuffle, each carrying a single min-struct / count) → equi-join
    the one-row-per-hash stats back → one shuffle on the doc id for the
    order-pinned reassembly. Returns (id_col, text_col, n_paras,
    n_dropped).
    """
    if mode not in ("keep_first", "drop_common"):
        raise ValueError(f"unknown dedup_paragraphs mode: {mode!r}")
    if mode == "drop_common" and (max_df is None or max_df < 1):
        raise ValueError("drop_common needs max_df >= 1")

    paras = widen_for_cpu(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias(
            "pos", "para"
        ),
    )
    content = F.trim(F.col("para"))
    h = F.md5(content)
    paras = paras.withColumn("_blank", content == "").withColumn("_h", h)

    if mode == "keep_first":
        stats = (
            paras.filter(~F.col("_blank"))
            .groupBy("_h")
            .agg(F.min(F.struct(F.col("_id"), F.col("pos"))).alias("_first"))
        )
        marked = paras.join(stats, "_h", "left").withColumn(
            "_keep",
            F.col("_blank")
            | (F.struct(F.col("_id"), F.col("pos")) == F.col("_first")),
        )
    else:
        stats = (
            paras.filter(~F.col("_blank"))
            .groupBy("_h")
            .agg(F.count_distinct(F.col("_id")).alias("_ndocs"))
        )
        marked = paras.join(stats, "_h", "left").withColumn(
            "_keep", F.col("_blank") | (F.col("_ndocs") <= int(max_df))
        )

    return (
        marked.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct("pos", F.col("_keep"), "para")
                            )
                        ),
                        lambda x: x["_keep"],
                    ),
                    lambda x: x["para"],
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_paras"),
            F.sum((~F.col("_keep")).cast("long")).alias("n_dropped"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Per-document interpolated bigram log-likelihood under the
    corpus's own LM — the next step up from :func:`unigram_logprob`
    toward the CCNet-style perplexity filter: a document of common words
    in an UNCOMMON order now scores low, which no unigram model can see.

    Model: ``P(w|p) = λ·c(p,w)/c(p·) + (1−λ)·(c(w)+1)/(tot+V+1)`` —
    maximum-likelihood bigram interpolated with the add-one unigram
    (λ=0.75 default), over lowercased whitespace tokens with empty
    tokens squeezed out BEFORE pairing (so a tab-leading document does
    not fabricate an empty-string bigram).

    Exactness discipline (the corpus_curation float-order lesson,
    applied preemptively): each token's log-probability is quantized to
    an exact integer — ``floor(ln(P)·10⁶)`` as BIGINT — and per-doc
    results are the SUM of those integers plus the token count. Integer
    sums are associative: no float-summation-order flake is possible,
    across engines or across partitionings. The float mean is left to
    the caller (``sum_lp_micro / 1e6 / n_scored``). ln itself is not
    correctly rounded in either Spark or DuckDB; the companion property
    test audits every distinct probability this corpus produces for
    floor-boundary proximity.

    Shape: ONE scan, ONE explode — each token rides out as a
    ``(token, next_token)`` struct (``try_element_at`` NULLs the last
    position), so the unigram model and the per-doc bigram counts both
    derive from the same exploded stream instead of scanning the corpus
    twice. The token stream is aggregated to per-doc bigram COUNTS at
    its first shuffle (map-side combine — a doc repeating one bigram 10⁴
    times ships one row), every corpus-level statistic (bigram counts,
    prev-marginals, unigram interpolation, totals) derives from those
    aggregates, scoring happens once per DISTINCT bigram, and one
    equi-join + integer dot-product (Σ nd·lpm) lands the per-doc result.
    The token stream is never joined row-at-a-time. Docs with <2
    non-empty tokens have no bigrams and are absent from the result.

    Returns ``(id_col, n_scored, sum_lp_micro)``.
    """
    arr = F.filter(
        F.transform(tokens(text_col), F.lower), lambda x: x != F.lit("")
    )
    base = widen_for_cpu(df.select(F.col(id_col), arr.alias("_a")))

    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_a")),
        lambda i: F.struct(
            F.element_at(F.col("_a"), i).alias("w"),
            F.try_element_at(F.col("_a"), i + F.lit(1)).alias("wn"),
        ),
    )
    stream = (
        base.where(F.size("_a") >= 1)
        .select(F.col(id_col), F.explode(pairs).alias("bg"))
        .select(
            F.col(id_col),
            F.col("bg.w").alias("w"),
            F.col("bg.wn").alias("wn"),
        )
    )

    # ONE aggregation lands the per-doc (token, next) count grain —
    # wn-NULL rows keep the last-position tokens — and is pinned with
    # an eager localCheckpoint: five downstream statistics (unigram
    # counts, totals, per-doc bigram counts, bigram marginals, prev
    # marginals) derive from this compact frame. Before the pin each
    # was a separate physical subtree re-running the corpus scan +
    # tokenize + explode (5 scans in the plan — the "same exploded
    # stream" held only logically). The grain equals what the first
    # shuffle produced anyway; the checkpoint just stops Catalyst from
    # re-deriving it per branch.
    tokd_all = (
        stream.groupBy(id_col, "w", "wn")
        .agg(F.count(F.lit(1)).alias("nd"))
        .localCheckpoint(eager=True)
    )
    uni = tokd_all.groupBy("w").agg(F.sum("nd").alias("cu"))
    totals = uni.agg(F.sum("cu").alias("tot"), F.count(F.lit(1)).alias("v"))

    # per-doc bigram counts: rename the non-terminal rows of the grain
    tokd = tokd_all.where(F.col("wn").isNotNull()).select(
        F.col(id_col),
        F.col("w").alias("p"),
        F.col("wn").alias("w"),
        "nd",
    )
    bcnt = tokd.groupBy("p", "w").agg(F.sum("nd").alias("cb"))
    pcnt = bcnt.groupBy("p").agg(F.sum("cb").alias("cp"))

    lam_f = float(lam)
    prob = F.lit(lam_f) * (
        F.col("cb").cast("double") / F.col("cp").cast("double")
    ) + F.lit(1.0 - lam_f) * (
        (F.col("cu") + F.lit(1))
        / (F.col("tot") + F.col("v") + F.lit(1)).cast("double")
    )
    scored_bigram = (
        bcnt.join(pcnt, "p")
        .join(uni, "w")
        .crossJoin(F.broadcast(totals))
        .select(
            "p", "w", F.floor(F.log(prob) * F.lit(1000000.0)).alias("lpm")
        )
    )

    from jobinsight_data_pipeline_spark.operators.components import (
        register_pins,
    )

    # the result reads the pinned count grain — callers free it via
    # components.free_pins(result) after the last action (r13)
    return register_pins(
        tokd.join(scored_bigram, ["p", "w"])
        .groupBy(id_col)
        .agg(
            F.sum("nd").alias("n_scored"),
            F.sum(F.col("nd") * F.col("lpm")).alias("sum_lp_micro"),
        ),
        tokd_all,
    )


def top_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Exact corpus-wide top-``k`` word ``n``-grams with document and
    occurrence counts — the corpus-statistics report behind boilerplate
    discovery, tokenizer diagnostics, and contamination screening
    (which exact phrases dominate my corpus?).

    Grams come from zipped shifted slices of the token array (the
    shingles pattern — one pass, no per-gram lambda overhead), then one
    partial-aggregating groupBy on the gram and a heap top-k
    (TakeOrderedAndProject). Ties break to the lexicographically
    smallest gram so the cut is deterministic. Returns
    (gram, n_docs, n_occurrences) ordered by occurrences desc."""
    toks = tokens(text_col)
    sz = F.size(toks)
    width = sz - (n - 1)
    shifted = [F.slice(toks, i + 1, width).alias(f"g{i}") for i in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda x: F.concat_ws(" ", *[x[f"g{i}"] for i in range(n)]),
    )
    return (
        widen_for_cpu(df)
        .filter(sz >= n)
        .select(F.col(id_col).alias("_doc"), F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.count_distinct("_doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )


# --- Unicode text normalization (the honest pandas-UDF exception) ----------

#: zero-width characters stripped outright (joiners, BOM-as-ZWNBSP)
_ZERO_WIDTH = "​‌‍﻿"
#: C0/C1-ish controls removed; \t and \n survive (layout), \r is folded
#: into \n beforehand
_CONTROLS = (
    "".join(chr(c) for c in range(0x00, 0x09))
    + "\x0b\x0c"
    + "".join(chr(c) for c in range(0x0e, 0x20))
    + "\x7f"
)


def normalize_text_py(s: str | None) -> str | None:
    """Pure-Python core (shared with the Arrow-batched UDF, testable
    without Spark): fold CRLF/CR to LF, NBSP to space, strip zero-width
    characters and controls (keeping tab/newline), then NFC-compose as
    the FINAL step. Order matters and is part of the contract — NFC
    last guarantees idempotence and an NFC-composed output even when a
    stripped zero-width originally separated a base from its combining
    mark (e.g. ``e + ZWNJ + U+0301`` → ``é``, not decomposed ``e``
    + U+0301); the catalog oracle replays the same chain with DuckDB's
    nfc_normalize outermost."""
    import unicodedata

    if s is None:
        return None
    out = s.replace("\r\n", "\n").replace("\r", "\n")
    out = out.replace("\xa0", " ")
    for ch in _ZERO_WIDTH:
        out = out.replace(ch, "")
    for ch in _CONTROLS:
        out = out.replace(ch, "")
    return unicodedata.normalize("NFC", out)


def normalize_text_udf():
    """Arrow-batched pandas UDF for :func:`normalize_text_py` — Unicode
    normalization has no JVM builtin in Spark, so this is one of the
    sanctioned pandas-UDF exceptions (vectorized batches, scan-fused
    stage; the per-row work is tiny and embarrassingly parallel)."""
    from pyspark.sql.types import StringType

    def _norm(texts):
        return texts.map(normalize_text_py)

    # non-decorator form: the module's `from __future__ import
    # annotations` would leave a decorated signature's 'pd.Series'
    # annotations unresolvable strings
    return F.pandas_udf(_norm, StringType())


def compressed_len_py(s: str | None, level: int = 6) -> int | None:
    """Pure-Python core for the compression-ratio signal: byte length
    of zlib-compressed UTF-8 at a FIXED level (6). Deterministic for a
    given zlib build; the catalog gate pins a literal fixture whose
    expected lengths are computed by the SAME interpreter, so driver
    and oracle can never see different zlib builds."""
    import zlib

    if s is None:
        return None
    return len(zlib.compress(s.encode("utf-8"), level))


def compressed_len_udf(level: int = 6):
    """Arrow-batched pandas UDF for :func:`compressed_len_py` — no JVM
    builtin exposes a deterministic compressor, so this is one of the
    sanctioned pandas-UDF exceptions (same class as normalize_text)."""
    from pyspark.sql.types import LongType

    def _clen(texts):
        return texts.map(lambda s: compressed_len_py(s, level))

    return F.pandas_udf(_clen, LongType())


def with_compression_ratio(
    df: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Compression-ratio quality signal (the Gopher/CCNet family):
    ``ratio_ppm = compressed_bytes · 10⁶ div raw_bytes``. VERY low
    ratios mark boilerplate/repetition (near-duplicate furniture
    compresses away); ratios near or above 10⁶ mark high-entropy noise
    (hex dumps, minified blobs, random tokens) — both ends are the
    rows a corpus filter drops. Adds ``byte_len``, ``comp_len``,
    ``ratio_ppm`` (NULL text → NULLs). Scan-fused single pass; the
    compressor is the honest Python boundary (Arrow batches), so widen
    single-file inputs for CPU before calling at scale."""
    raw = F.octet_length(F.col(text_col))
    return (
        df.withColumn("comp_len", compressed_len_udf(level)(F.col(text_col)))
        .withColumn("byte_len", raw.cast("long"))
        .withColumn(
            "ratio_ppm",
            F.expr("(comp_len * 1000000) div greatest(byte_len, 1)"),
        )
    )


def token_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 20,
) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    token pairs: ``PMI(a,b) = ln p(a,b) − ln p(a) − ln p(b)`` with
    maximum-likelihood probabilities (bigram count / total bigrams,
    unigram count / total tokens). High PMI = the pair co-occurs far
    beyond chance — the classic collocation / multi-word-expression
    detector (Church & Hanks 1990), and the complement of
    :func:`top_ngrams` (raw frequency) for boilerplate discovery.

    Engine portability: every ln is quantized to ``floor(ln·10⁶)``
    BIGINT micro-units SEPARATELY before the subtraction (the CLAUDE.md
    ln discipline), and the probabilities are ratios of exact integers
    — both engines ln the identical double. ``min_count`` floors the
    bigram count (PMI is noise-dominated at low counts).

    Scale shape: one widened token pass feeds both count tables
    (unigrams and bigrams, partial-agg shuffles bounded by vocabulary,
    not corpus); the PMI table is bigram-vocabulary-sized, joined to
    the unigram counts twice on the word key; totals are a 1-row
    broadcast; the cut is TakeOrderedAndProject. Returns ``(rank, w_a,
    w_b, pair_n, pmi_micro)``, tie-broken ``(pmi desc, w_a, w_b)``."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    base = widen_for_cpu(df.select(F.col(text_col).alias("__text")))
    unis = (
        base.select(
            F.explode(F.transform(tokens("__text"), F.lower)).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bis = (
        base.select(
            F.explode(F.transform(word_bigrams("__text"), F.lower)).alias(
                "g"
            )
        )
        .where(~F.col("g").startswith(" ") & ~F.col("g").endswith(" "))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .where(F.col("pair_n") >= min_count)
        .select(
            F.split(F.col("g"), " ")[0].alias("w_a"),
            F.split(F.col("g"), " ")[1].alias("w_b"),
            "pair_n",
        )
    )
    totals = unis.agg(F.sum("n").alias("tot_u")).crossJoin(
        broadcast(
            base.select(
                F.explode(F.transform(word_bigrams("__text"), F.lower)).alias("g")
            )
            .where(~F.col("g").startswith(" ") & ~F.col("g").endswith(" "))
            .agg(F.count(F.lit(1)).alias("tot_b"))
        )
    )
    lq = "CAST(floor(ln(CAST({num} AS DOUBLE) / {den}) * 1000000.0) AS BIGINT)"
    scored = (
        bis.join(unis.select(F.col("w").alias("w_a"), F.col("n").alias("n_a")), "w_a")
        .join(unis.select(F.col("w").alias("w_b"), F.col("n").alias("n_b")), "w_b")
        .crossJoin(broadcast(totals))
        .select(
            "w_a",
            "w_b",
            "pair_n",
            F.expr(
                lq.format(num="pair_n", den="tot_b")
                + " - " + lq.format(num="n_a", den="tot_u")
                + " - " + lq.format(num="n_b", den="tot_u")
            ).alias("pmi_micro"),
        )
    )
    w = Window.orderBy(F.desc("pmi_micro"), F.asc("w_a"), F.asc("w_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("rank", "w_a", "w_b", "pair_n", "pmi_micro")
    )
