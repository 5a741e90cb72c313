"""Hashed linear text-classifier inference — the fastText-shaped
quality/topic filter every LLM data pipeline runs over its corpus
(CCNet/GPT-3-style "does this look like reference text" scoring), as a
shuffle-free native scan.

Design decisions that make this production-shaped:

- **Hashing trick, no vocabulary.** Features are word unigrams and
  bigrams hashed into a fixed bucket space with the engine-portable
  md5 bucket (`operators/sampling.hash_bucket`'s scheme) — no vocab
  table to join, no OOV path, identical buckets on any engine or
  relayout.
- **Integer micro-weights.** Weights are BIGINT micro-units (quantized
  at export time, the standard trick for deterministic portable
  inference): the document score is a pure integer dot product, so it
  is EXACT — associative, order-free, engine-identical — where a float
  fold would depend on summation order. ``score_micro / 1e6`` recovers
  the float margin.
- **One projection, zero shuffles, zero UDFs.** The per-document fold is
  a higher-order ``aggregate`` over the token array inside whole-stage
  codegen; the weight table rides as ONE parsed SQL array literal
  (per-element ``F.lit`` costs a py4j round trip each — the
  similarity._matrix_sql lesson). Inference cost is exactly the scan.

Train the real model offline (fastText, a logistic regression, anything
linear), export ``round(w·10⁶)`` per bucket, and inference here is
bit-reproducible forever after.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu
from jobinsight_data_pipeline_spark.operators.textstats import tokens


def seeded_int_weights(n: int, seed: int, scale: int = 1_000_000) -> list[int]:
    """Deterministic pseudo-trained weight vector: n BIGINT micro-weights
    in [-scale, scale], derived from md5 so every engine/test run agrees.
    Stands in for a real exported model in gates and examples."""
    out = []
    for i in range(n):
        h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)
        out.append(h % (2 * scale + 1) - scale)
    return out


def int_array_sql(ints: list[int]) -> str:
    """Render an integer weight table as ONE array<bigint> SQL literal."""
    return "array(" + ",".join(f"{int(v)}L" for v in ints) + ")"


def _bucket(col: Column, salt: str, buckets: int) -> Column:
    # hash_bucket's engine-portable scheme, usable inside HOF lambdas
    hexpfx = F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 8)
    return (F.conv(hexpfx, 16, 10).cast("long") % buckets).cast("int")


def hashed_linear_score(
    text_col: str,
    weights: list[int],
    bias: int = 0,
    unigram_salt: str = "u:",
    bigram_salt: str = "b:",
) -> Column:
    """Column expression: integer micro-score of ``text_col`` under the
    hashed linear model — ``bias + Σ_uni w[h(tok)] + Σ_bi w[h(gram)]``
    over lowercased whitespace tokens (empties squeezed out). Both
    feature orders share the bucket space, distinguished by salt —
    the fastText layout."""
    buckets = len(weights)
    warr = F.expr(int_array_sql(weights))
    arr = F.filter(
        F.transform(tokens(text_col), F.lower), lambda x: x != F.lit("")
    )

    def fold(feat_arr: Column, salt: str) -> Column:
        return F.aggregate(
            feat_arr,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.element_at(warr, _bucket(t, salt, buckets) + F.lit(1)),
        )

    grams = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.greatest(F.size(arr), F.lit(2))),
            lambda i: F.concat(
                F.element_at(arr, i - F.lit(1)), F.lit(" "), F.element_at(arr, i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    return F.lit(int(bias)).cast("long") + fold(arr, unigram_salt) + fold(
        grams, bigram_salt
    )


def with_quality_classification(
    df: DataFrame,
    text_col: str,
    weights: list[int],
    bias: int = 0,
    threshold_micro: int = 0,
    score_col: str = "score_micro",
    label_col: str = "keep",
) -> DataFrame:
    """Attach the classifier's integer margin and the keep/drop label in
    one scan-fused projection — the corpus-filter step, composable with
    every other textstats signal and pushdown-friendly like any other
    predicate. ``score_col``/``label_col`` are reserved on the input
    (withColumn silently replaces same-named columns). The input is
    widened to the cluster's cores first: the per-token md5 fold is CPU
    per row, and a single-split scan would score on one task."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reserve_columns,
    )

    reserve_columns(df, [score_col, label_col], "with_quality_classification")
    df = widen_for_cpu(df)
    score = hashed_linear_score(text_col, weights, bias)
    return df.withColumn(score_col, score).withColumn(
        label_col, F.col(score_col) >= F.lit(int(threshold_micro))
    )
