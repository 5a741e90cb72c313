#!/usr/bin/env python
"""Dump .explain("formatted") plans for bench.py's entries and the
catalog queries into plans/<tag>/<name>_<suffix>.txt.

Usage: python scripts/dump_plans.py <suffix> [names...]
  suffix: e.g. "before" / "after" (file suffix under plans/$PLANS_TAG,
          default tag r12)
  names:  query names; default = a curated hot set.

A name resolves first to the DataFrame its bench.py ``ENTRIES`` thunk
returns (the very frame bench times), then to the catalog gate. A fit or
write entry is not run: its name resolves to the catalog, except
``ivf_pq_build``, which dumps the frame its entry writes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame

from bench import ENTRIES, Ctx, ivf_pq_frame
from jobinsight_data_pipeline_spark.session import get_spark

DEFAULT_NAMES = [
    "star_revenue",
    "top10_customers",
    "monthly_orders",
    "retrieval_eval",
    "hybrid_search",
    "dsir_select",
    "salary_parse",
    "bigram_lm",
    "text_stats",
    "exact_spans",
    "wordpiece_fertility",
    "unigram_encode",
    "pq_encode",
    "ivf_pq_build",
    "ivf_pq_serve_many",
    "ivf_pq_residual_serve",
    "incremental_dedup",
    "embedding_lsh_near_dup",
    "dedup_band_curve",
    "image_dhash_pairs",
    "semantic_dedup",
    "incremental_semantic_dedup",
    "triangle_count",
    "fim_transform",
    "span_corrupt",
    "hist_quantiles",
    "hll_estimate",
    "funnel_reanchor",
    "label_prop",
]


def plan_str(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def frame(ctx: Ctx, name: str) -> DataFrame | None:
    """The frame ``name`` dumps: the DataFrame its bench ``ENTRIES`` thunk
    returns, else the catalog gate; None when unknown. A fit or write
    entry returns no frame and is not run."""
    if name == "ivf_pq_build":  # its entry times a write of this frame
        return ivf_pq_frame(ctx)
    entry = ENTRIES.get(name)
    if entry is not None and not hasattr(entry, "fit"):
        return entry(ctx)()
    if name in ctx.queries:
        return ctx.queries[name](ctx.spark, ctx.sf_dir)
    return None


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT_NAMES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("PLANS_TAG", "r12")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    ctx = Ctx(get_spark(app_name="dump-plans"), sf_dir)
    for name in names:
        try:
            df = frame(ctx, name)
            if df is None:
                print(f"SKIP {name}: unknown")
                continue
            text = plan_str(df)
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(text)
            n_ex = text.count("Exchange")
            joins = [
                j
                for j in (
                    "BroadcastHashJoin",
                    "SortMergeJoin",
                    "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin",
                )
                if j in text
            ]
            pyn = [
                p
                for p in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
                if p in text
            ]
            print(f"OK   {name}: Exchange×{n_ex} joins={joins} python={pyn}")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}")


if __name__ == "__main__":
    main()
