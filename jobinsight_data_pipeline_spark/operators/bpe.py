"""Subword (BPE-style) tokenization — the encode step between raw text
and the packing/budget machinery (`materialize_packs`,
`select_until_budget` operate on id streams; real training pipelines
pack SUBWORD ids, not whole-word vocab ids).

Algorithm: rank-sequential byte-pair merging. The document's characters
become base symbols; each merge ``(a, b) → ab`` from a ranked table is
applied exhaustively left-to-right, in rank order. For any well-formed
merges table — every multi-character constituent is the output of an
EARLIER merge, which is exactly the invariant a trained BPE table has
(a symbol can only appear in a pair after the step that created it) —
this is equivalent to the classic lowest-rank-first loop (Sennrich et
al. 2016; the GPT-2 encoder): applying merge r can only create pairs
whose rank exceeds r (they contain r's output symbol), so no lower-rank
opportunity is ever missed by the sequential sweep.
:func:`validate_merges` asserts well-formedness.

Execution shape — the deliberate difference from a pandas-UDF encoder:
the whole encode is NATIVE column expressions, scan-fused, zero
shuffles, zero Python in the hot path. Each symbol is rendered as
``\\x1e sym \\x1f`` (asymmetric open/close delimiters: adjacent
occurrences share no characters, so one left-to-right ``replace`` pass
per rank merges every occurrence, and a pattern can never match a
symbol whose text is a prefix of a longer symbol). A merge is then ONE
``replace(seq, enc(a)||enc(b), enc(ab))`` call — both Spark's
``replace`` and DuckDB's are non-overlapping left-to-right, so the
catalog oracle replays the identical chain for a FULL exact oracle over
the real corpus, no planted fixture needed.

Scale: one projection over the text column; cost is O(merges × doc
length) character scanning inside codegen. Spaces ride through as
never-merged symbols and are dropped at the end — token boundaries are
therefore whitespace, and no merge can span them (the space symbol
interposes).

Vocabulary/ids: printable ASCII (0x21–0x7e) are ids 0–93 in codepoint
order; merge outputs take 94 + rank; the 256 BYTE-FALLBACK ids occupy
94 + len(merges) + byte. Any symbol outside the vocabulary (non-ASCII
text, stray controls) decomposes into its UTF-8 bytes, one fallback id
per byte — the GPT-2/SentencePiece total-coverage convention: every
input encodes losslessly (decode reassembles the bytes), and no UNK id
ever reaches training data.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu

#: asymmetric symbol delimiters (RS / US control chars — reserved: they
#: are stripped from the input text before encoding)
_OPEN = "\x1e"
_CLOSE = "\x1f"

#: Java-regex \s, exactly (Python's \s adds unicode spaces): the
#: python word-encoder path splits on this so whitespace-violating
#: words segment identically to the native paths' \s+ handling
_WS_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")

#: base symbols: printable ASCII minus space (space is the token
#: boundary, dropped after encoding)
BASE_SYMBOLS = [chr(c) for c in range(0x21, 0x7F)]

#: the default ranked merges table, hand-fit to the testdata corpus's
#: vocabulary (lowercase English SQL-ish words). Well-formed: every
#: multi-char constituent is produced by an earlier merge.
DEFAULT_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"),                        # the
    ("i", "n"), ("e", "r"), ("a", "n"), ("o", "r"),
    ("a", "r"), ("s", "t"), ("o", "u"), ("o", "w"),
    ("l", "e"), ("i", "l"), ("a", "m"),
    ("d", "a"), ("da", "t"), ("dat", "a"),          # data
    ("j", "o"), ("jo", "in"),                       # join
    ("s", "c"), ("sc", "an"),                       # scan
    ("m", "er"), ("mer", "g"), ("merg", "e"),       # merge
    ("b", "a"), ("ba", "t"), ("bat", "c"), ("batc", "h"),  # batch
    ("s", "or"), ("sor", "t"),                      # sort
    ("k", "e"), ("ke", "y"),                        # key
    ("q", "u"), ("qu", "er"), ("quer", "y"),        # query
    ("g", "r"), ("gr", "ou"), ("grou", "p"),        # group
    ("r", "ow"),                                    # row
    ("w", "in"), ("win", "d"), ("wind", "ow"),      # window
    ("s", "p"), ("sp", "ar"), ("spar", "k"),        # spark
    ("f", "il"), ("fil", "t"), ("filt", "er"),      # filter
    ("st", "r"), ("str", "e"), ("stre", "am"),      # stream
    ("t", "a"), ("b", "le"), ("ta", "ble"),         # table
    ("g", "g"), ("a", "gg"),                        # agg
]


def validate_merges(merges: list[tuple[str, str]]) -> None:
    """Assert the table is well-formed (the equivalence precondition):
    each constituent is a single base symbol or an earlier output, no
    duplicate outputs, no delimiter characters."""
    known = set(BASE_SYMBOLS)
    outputs = set()
    for i, (a, b) in enumerate(merges):
        for part in (a, b):
            if part not in known:
                raise ValueError(
                    f"merge {i} {a!r}+{b!r}: constituent {part!r} is "
                    "neither a base symbol nor an earlier merge output"
                )
            if _OPEN in part or _CLOSE in part:
                raise ValueError(f"merge {i}: delimiter char in {part!r}")
        out = a + b
        if out in outputs:
            raise ValueError(f"duplicate merge output {out!r} at rank {i}")
        outputs.add(out)
        known.add(out)


def bpe_vocab(merges: list[tuple[str, str]] | None = None) -> dict[str, int]:
    """symbol → id: base printable ASCII in codepoint order, then merge
    outputs by rank. Byte-fallback ids sit above these (see
    :func:`byte_fallback_base`) and are not symbols, so they don't
    appear here."""
    merges = DEFAULT_MERGES if merges is None else merges
    vocab = {s: i for i, s in enumerate(BASE_SYMBOLS)}
    for r, (a, b) in enumerate(merges):
        vocab[a + b] = len(BASE_SYMBOLS) + r
    return vocab


def byte_fallback_base(merges: list[tuple[str, str]] | None = None) -> int:
    """First byte-fallback id: byte ``b`` of an out-of-vocabulary
    symbol's UTF-8 encoding becomes id ``byte_fallback_base(merges) +
    b`` (a 256-id block directly above the merge outputs). Total vocab
    size is therefore ``byte_fallback_base(merges) + 256``."""
    merges = DEFAULT_MERGES if merges is None else merges
    return len(BASE_SYMBOLS) + len(merges)


def _sym_sql(s: str) -> str:
    """Render a symbol as a SQL string literal valid VERBATIM in both
    Spark SQL and DuckDB: plain single-quoted when no char needs
    engine-specific escaping (quote; backslash is an escape in Spark but
    not DuckDB), chr()-concatenation otherwise."""
    if all(0x20 <= ord(c) <= 0x7E and c not in ("'", "\\") for c in s):
        return f"'{s}'"
    return " || ".join(f"chr({ord(c)})" for c in s)


def _vocab_map_sql(merges: list[tuple[str, str]]) -> str:
    """The symbol→id mapping as ONE Spark `map(...)` literal (one parse;
    per-element F.lit would cost a py4j round trip each — the
    _matrix_sql lesson)."""
    entries = []
    for sym, i in bpe_vocab(merges).items():
        entries.append(f"{_sym_sql(sym)}, {i}")
    return "map(" + ", ".join(entries) + ")"


def bpe_ids_column(
    text: Column | str, merges: list[tuple[str, str]] | None = None
) -> Column:
    """The BPE encoding as a composable Column: array<int> of subword
    ids for the whole document, token boundaries at whitespace. Fully
    native — delimiter-bracketed char sequence, one `replace` per merge
    rank, split + literal-map lookup."""
    merges = DEFAULT_MERGES if merges is None else merges
    validate_merges(merges)
    col = F.col(text) if isinstance(text, str) else text

    # reserve the delimiters, collapse whitespace to single spaces
    t = F.regexp_replace(col, f"[{_OPEN}{_CLOSE}]", "")
    t = F.regexp_replace(F.trim(t), r"\s+", " ")
    seq = F.regexp_replace(t, "(.)", f"{_OPEN}$1{_CLOSE}")
    for a, b in merges:
        seq = F.replace(
            seq,
            F.lit(_OPEN + a + _CLOSE + _OPEN + b + _CLOSE),
            F.lit(_OPEN + a + b + _CLOSE),
        )
    return _ids_from_seq(seq, merges)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode each document to its subword-id stream: (id_col, ids
    array<int>, n_ids) — the shape `materialize_packs` /
    `select_until_budget` consume. One scan-fused projection, over the
    input widened to the cluster's cores (the replace chain is CPU per
    row; a single-split scan would otherwise encode on one task)."""
    df = widen_for_cpu(df)
    ids = bpe_ids_column(text_col, merges)
    return df.select(
        F.col(id_col), ids.alias("ids"), F.size(ids).alias("n_ids")
    )


def _chunks(xs: list, n: int) -> list[list]:
    return [xs[i : i + n] for i in range(0, len(xs), n)]


def _byte_ids(s: Column, byte_base: int) -> Column:
    """Byte-fallback ids for one out-of-vocabulary symbol: each UTF-8
    byte ``b`` becomes ``byte_base + b`` (hex-pair walk over
    ``hex(encode(s))`` — fully native, no UDF)."""
    hx = F.hex(F.encode(s, "UTF-8"))
    return F.transform(
        F.sequence(F.lit(1), F.octet_length(s)),
        lambda i: (
            F.lit(byte_base)
            + F.conv(F.substring(hx, i * 2 - 1, F.lit(2)), 16, 10)
            .cast("int")
        ).cast("int"),
    )


def _ids_from_seq(seq: Column, merges: list[tuple[str, str]]) -> Column:
    """Finalize a fully-merged delimiter-bracketed sequence into the id
    array (the shared tail of every native encode path): vocabulary
    symbols map through the literal id map; anything else decomposes
    into byte-fallback ids (total coverage — no -1 sentinel)."""
    syms = F.filter(
        F.split(F.replace(seq, F.lit(_CLOSE), F.lit("")), _OPEN),
        lambda s: (s != "") & (s != " "),
    )
    VOCAB = F.expr(_vocab_map_sql(merges))
    bb = byte_fallback_base(merges)
    return F.flatten(
        F.transform(
            syms,
            lambda s: F.when(
                F.element_at(VOCAB, s).isNotNull(),
                F.array(F.element_at(VOCAB, s)),
            ).otherwise(_byte_ids(s, bb)),
        )
    )


def encode_word_table(
    words: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    word_col: str = "w",
    out_col: str = "wids",
    word_encoder: str = "auto",
    merge_batch: int = 64,
) -> DataFrame:
    """Encode a DISTINCT-word table once: ``(word_col, …) → (word_col,
    out_col array<int>)``. The scale half of :func:`bpe_encode_memoized`
    — per-merge cost is paid on the VOCABULARY (≈10⁶ rows for a web
    corpus), never on corpus bytes.

    ``word_encoder``:

    * ``'native'`` — the delimiter-bracket replace chain, applied in
      ``merge_batch``-sized projection rounds with eager
      ``localCheckpoint`` between rounds (the pagerank lineage
      discipline), so the expression tree stays bounded at ANY merge
      count. When ``len(merges) > merge_batch`` the returned frame is
      backed by the final round's localCheckpoint (vocabulary-sized
      blocks; freed with the session).
    * ``'python'`` — an Arrow-batched pandas UDF running the classic
      lowest-rank-first merge loop (Sennrich et al. 2016; the GPT-2
      encoder shape) against a rank dict: per-word cost is
      O(len² · log) in the word, INDEPENDENT of merge-table size — the
      production path for 32k–50k-merge vocabularies. Equivalent to the
      rank-sequential sweep for any :func:`validate_merges`-well-formed
      table (applying merge r only creates pairs containing r's output,
      whose ranks exceed r — pinned by property tests).
    * ``'auto'`` — native while the chain is cheap (≤256 merges), python
      beyond.

    Precondition: ``word_col`` values are single whitespace-free tokens
    (what :func:`bpe_encode_memoized`'s tokenizer produces). Delimiter
    chars are stripped defensively, and ALL paths normalize whitespace
    identically to :func:`bpe_ids_column` — a ``\\s`` run collapses to a
    single merge BOUNDARY (segments on either side encode independently;
    the whitespace itself emits no id) — so a precondition-violating
    word containing ``\\t``/``\\n`` encodes the same under ``'native'``,
    ``'python'``, and the ≤``merge_batch`` chain instead of silently
    diverging when ``'auto'`` flips paths.
    """
    merges = DEFAULT_MERGES if merges is None else merges
    validate_merges(merges)
    if word_encoder == "auto":
        word_encoder = "native" if len(merges) <= 256 else "python"

    if word_encoder == "python":
        from pyspark.sql.types import ArrayType, IntegerType

        mergelist = list(merges)
        vocab = bpe_vocab(mergelist)
        bb = byte_fallback_base(mergelist)
        ranks = {(a, b): i for i, (a, b) in enumerate(mergelist)}

        # non-decorator pandas_udf form (the normalize_text_udf
        # convention: `from __future__ import annotations` leaves
        # decorated 'pd.Series' hints as unresolvable strings)
        def _enc_batch(col):
            memo: dict[str, list[int]] = {}

            def one(w):
                if w is None:
                    return None
                got = memo.get(w)
                if got is not None:
                    return got
                ids: list[int] = []
                # whitespace = merge boundary (bpe_ids_column parity):
                # encode each \s-delimited segment independently
                for seg in _WS_SPLIT.split(w):
                    ids.extend(_one_segment(seg))
                memo[w] = ids
                return ids

            def _one_segment(seg):
                syms = [c for c in seg if c != _OPEN and c != _CLOSE]
                while len(syms) >= 2:
                    best = None
                    for i in range(len(syms) - 1):
                        r = ranks.get((syms[i], syms[i + 1]))
                        if r is not None and (best is None or r < best):
                            best = r
                    if best is None:
                        break
                    a, b = mergelist[best]
                    out, i = [], 0
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == a
                            and syms[i + 1] == b
                        ):
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                ids: list[int] = []
                for s in syms:
                    v = vocab.get(s)
                    if v is not None:
                        ids.append(v)
                    else:  # byte fallback: total coverage, no UNK
                        ids.extend(bb + byt for byt in s.encode("utf-8"))
                return ids

            return col.map(one)

        _enc = F.pandas_udf(_enc_batch, ArrayType(IntegerType()))
        return words.withColumn(out_col, _enc(F.col(word_col)))

    if word_encoder != "native":
        raise ValueError(f"unknown word_encoder {word_encoder!r}")

    if len(merges) <= merge_batch:
        return words.withColumn(out_col, bpe_ids_column(word_col, merges))

    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )

    # identical preprocessing to bpe_ids_column: strip delimiters,
    # collapse \s+ to one bracketed space (a merge boundary the final
    # _ids_from_seq filter drops) — all three paths agree on
    # whitespace-violating inputs
    clean = F.regexp_replace(F.col(word_col), f"[{_OPEN}{_CLOSE}]", "")
    clean = F.regexp_replace(F.trim(clean), r"\s+", " ")
    state = words.withColumn(
        "_seq", F.regexp_replace(clean, "(.)", f"{_OPEN}$1{_CLOSE}")
    ).localCheckpoint(eager=True)
    batches = _chunks(list(merges), merge_batch)
    for chunk in batches[:-1]:
        seq = F.col("_seq")
        for a, b in chunk:
            seq = F.replace(
                seq,
                F.lit(_OPEN + a + _CLOSE + _OPEN + b + _CLOSE),
                F.lit(_OPEN + a + b + _CLOSE),
            )
        new_state = state.withColumn("_seq", seq).localCheckpoint(eager=True)
        _free_local_checkpoint(state)
        state = new_state
    seq = F.col("_seq")
    for a, b in batches[-1]:
        seq = F.replace(
            seq,
            F.lit(_OPEN + a + _CLOSE + _OPEN + b + _CLOSE),
            F.lit(_OPEN + a + b + _CLOSE),
        )
    return state.withColumn(out_col, _ids_from_seq(seq, merges)).drop("_seq")


def bpe_encode_memoized(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_encoder: str = "auto",
    merge_batch: int = 64,
    broadcast_words: bool = True,
) -> DataFrame:
    """Vocab-scale BPE encode: identical contract to :func:`bpe_encode`
    (``(id_col, ids array<int>, n_ids)``), but per-merge work is paid on
    the DISTINCT-WORD table instead of the full corpus — the same
    collapse trick :func:`learn_bpe_merges` already uses on the learn
    side (vocabulary ≪ token count; merges never span the whitespace
    boundary, so per-word encode concatenated in token order ≡ the
    whole-document chain).

    Shape: tokenize → ``posexplode`` to (doc, pos, word) → encode each
    DISTINCT word once (:func:`encode_word_table`, native chain or the
    rank-loop pandas UDF) → broadcast-join ids back by word → one
    groupBy(id_col) reassembly in pos order (`ordered_collect`). Cost:
    TWO corpus tokenize passes (the unmaterialized ``tok`` projection
    feeds both the distinct-word build and the join-back reassembly) +
    one vocabulary-sized encode + one doc-keyed shuffle — vs O(merges)
    full-corpus passes for the direct chain. The second tokenize pass
    is deliberate: persisting the exploded (doc, pos, word) table to
    avoid it would materialize per-token rows — far more bytes than the
    corpus itself at scale — while re-tokenizing is a scan-fused
    projection; callers that already sit on a materialized scratch copy
    of the input (the gate pattern) pay the cheap version of both
    passes. This is the path that reaches a production 32k-merge vocab;
    equivalence to :func:`bpe_encode` at any merge count is pinned by
    property tests (tests/test_bpe_memoized.py).

    Null/empty semantics match the direct encoder exactly: NULL text →
    NULL ids (n_ids NULL), whitespace-only text → empty ids (n_ids 0).
    Precondition: ``id_col`` is unique (a key) — duplicate ids would
    merge in the reassembly.

    Set ``broadcast_words=False`` when the vocabulary is too large to
    broadcast (the join falls back to a shuffle join on the word key).

    Both passes read the input widened to the cluster's cores, as
    :func:`bpe_encode` does.
    """
    from jobinsight_data_pipeline_spark.operators.parallelism import (
        ordered_collect,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import tokens

    merges = DEFAULT_MERGES if merges is None else merges
    validate_merges(merges)
    df = widen_for_cpu(df)

    clean = F.regexp_replace(F.col(text_col), f"[{_OPEN}{_CLOSE}]", "")
    toks = F.filter(tokens(clean), lambda w: w != "")
    tok = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "w")
    )
    word_ids = encode_word_table(
        tok.select("w").distinct(),
        merges,
        word_col="w",
        out_col="wids",
        word_encoder=word_encoder,
        merge_batch=merge_batch,
    )
    if broadcast_words:
        word_ids = F.broadcast(word_ids)
    agg = (
        tok.join(word_ids, "w")
        .groupBy(id_col)
        .agg(F.flatten(ordered_collect("pos", "wids")).alias("_ids"))
    )
    skel = df.select(
        F.col(id_col), F.col(text_col).isNull().alias("_text_null")
    )
    ids = F.when(
        F.col("_text_null"), F.lit(None).cast("array<int>")
    ).otherwise(F.coalesce(F.col("_ids"), F.array().cast("array<int>")))
    return skel.join(agg, [id_col], "left").select(
        F.col(id_col), ids.alias("ids"), F.size(ids).alias("n_ids")
    )


def bpe_decode_py(
    ids: list[int], merges: list[tuple[str, str]] | None = None
) -> str:
    """Driver-side id→text helper (symbols concatenated; token
    boundaries are not recoverable — BPE with dropped spaces is lossy by
    design here). Byte-fallback id runs reassemble into UTF-8 text, so
    decode(encode(x)) reproduces x's non-whitespace characters exactly
    even for out-of-vocabulary input."""
    merges = DEFAULT_MERGES if merges is None else merges
    rev = {i: s for s, i in bpe_vocab(merges).items()}
    bb = byte_fallback_base(merges)
    parts: list[str] = []
    buf = bytearray()
    for i in ids:
        if bb <= i < bb + 256:
            buf.append(i - bb)
            continue
        if buf:
            parts.append(buf.decode("utf-8", errors="replace"))
            buf.clear()
        parts.append(rev.get(i, "�"))
    if buf:
        parts.append(buf.decode("utf-8", errors="replace"))
    return "".join(parts)


def bpe_encode_py(
    text: str | None, merges: list[tuple[str, str]] | None = None
) -> list[int]:
    """Pure-Python reference of the EXACT same contract (the
    normalize_text_py pattern): symbol-list implementation — no string
    replace tricks — so the property tests cross-check the delimiter
    encoding against an independent realization."""
    merges = DEFAULT_MERGES if merges is None else merges
    if text is None:
        return []
    vocab = bpe_vocab(merges)
    import re

    # ASCII whitespace class ONLY — the engine paths split on Java's \s
    # (= [ \t\n\x0b\f\r], ASCII) via _WS_SPLIT / regexp_replace, so the
    # reference must NOT use Python's Unicode-aware \s:   etc. are
    # ordinary characters to the engine (byte-fallback encoded), never
    # separators.
    cleaned = re.sub(
        r"[ \t\n\x0b\f\r]+",
        " ",
        text.replace(_OPEN, "").replace(_CLOSE, "").strip(" \t\n\x0b\f\r"),
    )
    bb = byte_fallback_base(merges)
    out: list[int] = []
    for word in cleaned.split(" "):
        if not word:
            continue
        syms = list(word)
        for a, b in merges:
            i = 0
            merged: list[str] = []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
        for s in syms:
            v = vocab.get(s)
            if v is not None:
                out.append(v)
            else:  # byte fallback
                out.extend(bb + byt for byt in s.encode("utf-8"))
    return out


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn a BPE merges table FROM the corpus — the distributed trainer
    that completes the learn → encode → pack story (Sennrich et al.
    2016, §3). Returns [(left, right, pair_count), …] in rank order;
    feed ``[(l, r) for l, r, _ in result]`` straight into
    :func:`bpe_encode`.

    Scale shape — the trick every real BPE trainer uses: the corpus
    first collapses to a DISTINCT-WORD frequency table (one
    tokenize+groupBy pass; vocabulary ≪ token count, ~10⁶ distinct
    words for a 10¹²-token web corpus), and every training round then
    works on that small weighted table: adjacent-pair counts weighted by
    word frequency (one partial-aggregating groupBy), a 1-row argmax to
    the driver (count DESC, then lexicographic — fully deterministic),
    and a single native `replace` applying the merge. Round state is
    eagerly localCheckpointed and the previous round freed (the
    pagerank pattern) — per-round lineage stays one hop. Driver state
    per round: ONE row. Stops early when the best pair's count falls
    below ``min_pair_count``.

    Pair counting is positional (adjacent occurrences, overlapping —
    "aaa" contributes (a,a) twice), merge application is left-to-right
    non-overlapping: the classic trainer semantics. Pairs never span
    the space symbol (token boundary). On an ASCII corpus the learned
    table is :func:`validate_merges`-well-formed by construction (every
    constituent exists as a symbol when its merge is learned).
    """
    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )
    from jobinsight_data_pipeline_spark.operators.textstats import tokens

    t = F.regexp_replace(F.col(text_col), f"[{_OPEN}{_CLOSE}]", "")
    words = (
        widen_for_cpu(df)
        .select(F.explode(tokens(t)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcount"))
        .select(
            F.regexp_replace(F.col("w"), "(.)", f"{_OPEN}$1{_CLOSE}").alias(
                "seq"
            ),
            "wcount",
        )
        .localCheckpoint(eager=True)
    )

    merges: list[tuple[str, str, int]] = []
    state, state_ckpt = words, True
    for _ in range(n_merges):
        syms = F.filter(
            F.split(F.replace(F.col("seq"), F.lit(_CLOSE), F.lit("")), _OPEN),
            lambda s: s != "",
        )
        # sequence(1, 0) DESCENDS and ANSI element_at throws out of
        # bounds — guard the single-symbol-word case explicitly
        pairs = F.expr(
            "CASE WHEN size(_syms) >= 2 THEN "
            "filter(transform(sequence(1, size(_syms) - 1), "
            "i -> struct(element_at(_syms, i) AS l, "
            "element_at(_syms, i + 1) AS r)), "
            "p -> p.l != ' ' AND p.r != ' ') "
            "ELSE array() END"
        )
        best = (
            state.withColumn("_syms", syms)
            .select(F.explode(pairs).alias("p"), "wcount")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wcount").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < min_pair_count:
            break
        l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((l, r, n))
        new_state = state.select(
            F.replace(
                F.col("seq"),
                F.lit(_OPEN + l + _CLOSE + _OPEN + r + _CLOSE),
                F.lit(_OPEN + l + r + _CLOSE),
            ).alias("seq"),
            "wcount",
        ).localCheckpoint(eager=True)
        if state_ckpt:
            _free_local_checkpoint(state)
        state, state_ckpt = new_state, True
    if state_ckpt:
        _free_local_checkpoint(state)
    return merges


def learn_bpe_merges_py(
    texts: list[str | None],
    n_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Pure-Python reference trainer (independent realization: dict
    counting over symbol lists, no string-replace tricks) for the
    property tests."""
    import re
    from collections import Counter

    wcounts: Counter = Counter()
    for s in texts:
        if s is None:
            continue
        cleaned = s.replace(_OPEN, "").replace(_CLOSE, "")
        for w in re.split(r"\s+", cleaned.strip()):
            if w:
                wcounts[w] += 1
    state = {tuple(w): c for w, c in wcounts.items()}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for syms, c in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (l, r), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((l, r, n))
        new_state: dict = {}
        for syms, c in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_state[key] = new_state.get(key, 0) + c
        state = new_state
    return merges


def save_merges(spark, merges: list, path: str) -> None:
    """Persist a merges table as the tokenizer artifact — (rank, left,
    right, pair_count) parquet, the asset a training pipeline ships
    alongside its shards so day-N encodes use the EXACT table the corpus
    was packed with. Accepts trainer output ``[(l, r, n), …]`` or bare
    ``[(l, r), …]`` (pair_count NULL). Validates well-formedness before
    writing — a malformed artifact must fail at save time, not at some
    future encode."""
    pairs = [(m[0], m[1]) for m in merges]
    validate_merges(pairs)
    rows = [
        (i, m[0], m[1], int(m[2]) if len(m) > 2 else None)
        for i, m in enumerate(merges)
    ]
    spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long"
    ).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a :func:`save_merges` artifact back into the rank-ordered
    ``[(left, right), …]`` form every encoder here consumes. The
    driver-side collect is vocabulary-sized by construction (a 50k-merge
    production table is ~1 MB). Re-validates — a corrupted or
    hand-edited artifact fails loudly."""
    rows = (
        spark.read.parquet(path)
        .select("rank", "left", "right")
        .orderBy("rank")
        .collect()
    )
    ranks = [r["rank"] for r in rows]
    if ranks != list(range(len(rows))):
        raise ValueError(
            f"merges artifact at {path!r} has non-contiguous ranks "
            f"(got {ranks[:5]}…) — not a save_merges output"
        )
    merges = [(r["left"], r["right"]) for r in rows]
    validate_merges(merges)
    return merges


def bpe_decode_column(
    ids: Column | str, merges: list[tuple[str, str]] | None = None
) -> Column:
    """Distributed decode: subword ids back to their symbol text,
    concatenated (token boundaries are not recoverable — the encoder
    drops spaces by design; ids outside the vocab AND byte blocks
    render as '�'). Works in HEX space so byte-fallback runs reassemble
    into valid UTF-8: each id maps to the hex of its bytes (vocabulary
    symbols via one literal map, byte ids via arithmetic), the pieces
    concatenate, and ONE unhex+decode at the end rebuilds the text —
    scan-fused, no UDF; the engine-side twin of :func:`bpe_decode_py`
    for corpus-scale rehydration checks."""
    merges = DEFAULT_MERGES if merges is None else merges
    col = F.col(ids) if isinstance(ids, str) else ids
    entries = ", ".join(
        f"{i}, '{sym.encode('utf-8').hex().upper()}'"
        for sym, i in bpe_vocab(merges).items()
    )
    REV_HEX = F.expr("map(" + entries + ")")
    bb = byte_fallback_base(merges)
    piece = lambda i: F.when(  # noqa: E731
        (i >= bb) & (i < bb + 256),
        F.lpad(F.hex(i - bb), 2, "0"),
    ).otherwise(
        F.coalesce(F.element_at(REV_HEX, i), F.lit("EFBFBD"))  # '�'
    )
    return F.decode(
        F.unhex(F.concat_ws("", F.transform(col, piece))), "UTF-8"
    )
