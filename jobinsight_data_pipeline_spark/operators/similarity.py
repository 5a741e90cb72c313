"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products run as native array lambdas (zip_with + aggregate), fully
  JVM-side; the query side is broadcast (queries ≪ corpus), so the plan
  is a broadcast nested-loop with no shuffle of the corpus.
- ``lsh_cosine_topk``: random-hyperplane LSH — sign-bit sketch per
  vector, candidates share a band bucket; exact cosine re-ranks the
  candidates. The 100 TB path: corpus scanned once to sketch, then only
  bucket-colliding rows are scored.

Hyperplanes are generated driver-side from a fixed seed (numpy) and
inlined as literals — deterministic across runs and executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from jobinsight_data_pipeline_spark.operators.dedup import _banded_join, _bit_bands
from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


#: default row ceiling for the brute-force O(n²) baselines — far above
#: any oracle/test corpus, far below where all-pairs scoring is sane
BRUTE_FORCE_MAX_ROWS = 1_000_000


def _guard_brute_force(df: DataFrame, max_rows: int | None, alternative: str) -> None:
    """Refuse to run an all-pairs plan on a corpus-scale frame. The
    brute-force operators are the exact baselines (oracles, re-rankers,
    recall measurement) — at 10⁸ embeddings their crossJoin is 10¹⁶
    score evaluations, and nothing in the plan would stop it. The probe
    is ``limit(max_rows + 1).count()`` — bounded work even when handed a
    DERIVED frame (a bare count() would execute the full upstream plan;
    the limit stops scanning once the threshold row exists). Pass
    ``max_rows=None`` as the explicit escape hatch."""
    if max_rows is None:
        return
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"brute-force similarity refused: corpus has {n:,} rows > "
            f"max_rows={max_rows:,} (the plan is O(n²) all-pairs). Use "
            f"{alternative} — the bucketed scale path — or pass "
            f"max_rows=None to force the exact baseline."
        )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_rows: int | None = BRUTE_FORCE_MAX_ROWS,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding itself).
    Deterministic: rank on rounded cosine with id tie-break.

    O(corpus × queries) by design — the exact baseline. Guarded by
    ``max_rows`` (corpus side; raises with a pointer to
    ``lsh_cosine_topk`` / ``ivf_cosine_topk`` above it; ``None`` to
    force)."""
    _guard_brute_force(corpus, max_rows, "lsh_cosine_topk/ivf_cosine_topk")
    # norms are hoisted to one computation per ROW (not per pair) — at
    # k-NN fan-out this removes 2/3 of the array-lambda work (measured
    # 3.5x on the sf0.1 bench)
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        ).withColumn("qnorm", norm(F.col("qv")))
    )
    c = widen_for_cpu(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cnorm", norm(F.col("cv")))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def cosine_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_rows: int | None = BRUTE_FORCE_MAX_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT: every (a < b) with
    cosine ≥ threshold. O(n²) all-pairs verify — the correctness baseline
    that ``lsh_cosine_near_pairs`` approximates at corpus scale (guarded
    by ``max_rows``; ``None`` to force). Norms are hoisted to once per
    row; the threshold compares the 6-decimal rounded similarity so
    membership matches the DuckDB oracle bit-for-bit at the boundary."""
    _guard_brute_force(df, max_rows, "lsh_cosine_near_pairs/semantic_dedup")
    base = widen_for_cpu(df).select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    a = base.select(
        F.col("_id").alias("vec_a"), F.col("_v").alias("va"), F.col("_n").alias("na")
    )
    b = base.select(
        F.col("_id").alias("vec_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
    )
    sim6 = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim6", sim6)
        .filter(F.col("sim6") >= threshold)
        .select("vec_a", "vec_b", F.round("sim6", 4).alias("sim"))
    )


def lsh_params_for(
    threshold: float,
    target_recall: float = 0.95,
    max_planes: int = 64,
) -> tuple[int, int]:
    """Derive ``(n_planes, bands)`` from the similarity threshold — the
    classic LSH tuning: per-bit collision for cosine-t pairs is
    ``p = 1 − arccos(t)/π``; a band of ``r`` bits hits with ``p^r`` and
    ``b`` bands give recall ``1 − (1 − p^r)^b``. Pick the LARGEST ``r``
    whose required band count still fits ``max_planes`` (64 = one packed
    long): bigger ``r`` is the candidate-pruning lever, since far pairs
    (cos ≈ 0, p = ½) collide per band at ``2^−r``.

    Hard bound worth knowing before blaming the plan: candidate fraction
    for random-centered corpora is ``≈ 1 − (1 − 2^−r)^b``. At t = 0.4
    (p = .63) the best feasible config under 64 planes is r=3, b=11 —
    which still examines ~77% of all pairs (measured 76% on the
    testdata corpus; r=4 needs b=18 → 72 planes, infeasible). Loose-τ
    near-dup is candidate-bound for hyperplane LSH; use
    :func:`semantic_dedup`'s centroid cells there. At production
    near-dup thresholds the same formula prunes sharply (t = 0.9 →
    r=7, b=8: far pairs collide at ~6%)."""
    import math

    p = 1.0 - math.acos(threshold) / math.pi
    for r in range(max_planes, 0, -1):
        q = p**r
        if q >= 1.0:
            return r, 1
        b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - q))
        if b * r <= max_planes:
            return b * r, b
    raise ValueError(
        f"no feasible LSH config for threshold={threshold} under "
        f"{max_planes} planes"
    )


def lsh_cosine_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int | None = None,
    bands: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup at 100 TB posture: hyperplane-LSH band
    buckets generate candidates (self-join on (band, bucket) — only
    colliding rows are paired, never all-pairs), exact cosine verifies.
    Precision is 1.0 (every emitted pair passed the exact check); recall
    ≈ 1 - (1 - p^r)^b with per-bit collision p = 1 - arccos(t)/π.

    ``n_planes``/``bands`` default to :func:`lsh_params_for`'s
    autotuning from ``threshold`` (recall target 0.95) — the round-6
    change from a fixed permissive 16×2-bit config; pass both explicitly
    to pin a layout. Output schema matches ``cosine_near_pairs``."""
    if (n_planes is None) != (bands is None):
        raise ValueError("pass both n_planes and bands, or neither")
    if n_planes is None:
        n_planes, bands = lsh_params_for(threshold)
    sk = (
        lsh_sketch(df, id_col, vec_col, dim, n_planes, seed)
        # double-precision scoring so verified sims match cosine_near_pairs
        .withColumn("vec", _as_double(F.col("vec")))
        .withColumn("nrm", norm(F.col("vec")))
    )
    cand = _banded_join(
        sk, sk, "sketch", bands, keys=_bit_bands(n_planes, bands), lt="doc"
    ).select(
        F.col("a.doc").alias("vec_a"),
        F.col("a.vec").alias("va"),
        F.col("a.nrm").alias("na"),
        F.col("b.doc").alias("vec_b"),
        F.col("b.vec").alias("vb"),
        F.col("b.nrm").alias("nb"),
    )
    sim6 = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        cand.withColumn("sim6", sim6)
        .filter(F.col("sim6") >= threshold)
        .select("vec_a", "vec_b", F.round("sim6", 4).alias("sim"))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _matrix_sql(rows: list[list[float]]) -> str:
    """Render a small matrix as ONE array<array<double>> SQL literal.

    Inlining it element-by-element with F.lit costs a py4j round trip
    per element — ~2.5s of pure driver time for a 16x64 plane set
    (measured); a single parsed literal is milliseconds."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")" for row in rows
        )
        + ")"
    )


def lsh_sketch(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Sign-bit sketch: bit i = (v · plane_i) > 0, packed into a long."""
    planes = _hyperplanes(dim, n_planes, seed)
    sketch = F.expr(
        f"""
        aggregate(
          zip_with({_matrix_sql(planes)}, sequence(0, {n_planes - 1}),
                   (p, i) -> struct(p, i)),
          0L,
          (acc, x) -> acc + shiftleft(
            cast(aggregate(zip_with(`{vec_col}`, x.p,
                                    (a, b) -> cast(a AS double) * b),
                           0.0D, (s, y) -> s + y) > 0 AS long),
            x.i))
        """
    )
    # n_planes dot products per row: widen before the scan-fused sketch
    return widen_for_cpu(df).select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"), sketch.alias("sketch")
    )


def fit_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    sample_rows: int = 4096,
) -> list[list[float]]:
    """Seeded spherical-KMeans centroids fit driver-side on a bounded
    sample (cosine ≈ dot on the unit sphere). The model is tiny — it
    inlines as one SQL literal — while assignment stays a distributed
    one-pass projection; the collect is capped at ``sample_rows``.

    The sample is bottom-k by ``xxhash64(vec)`` (TakeOrderedAndProject:
    per-partition k-heaps + a driver merge) — a UNIFORM random sample at
    any corpus size. A bare ``limit`` would take the head of the scan
    order, which on partition-ordered data (by source, by date) trains
    centroids on one slice of the distribution; duplicate vectors tie on
    the hash, but identical vectors contribute identical centroids, so
    the fit stays value-deterministic."""
    sample = (
        corpus.select(vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(vec_col).asc())
        .limit(sample_rows)
        .collect()
    )
    if not sample:
        raise ValueError(
            f"fit_centroids: no non-null `{vec_col}` vectors to fit"
        )
    X = np.array([r[vec_col] for r in sample], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = Xn[rng.choice(len(Xn), size=min(n_lists, len(Xn)), replace=False)]
    for _ in range(10):  # Lloyd iterations on the sample
        assign = np.argmax(Xn @ centroids.T, axis=1)
        for j in range(len(centroids)):
            members = Xn[assign == j]
            if len(members):
                c = members.mean(axis=0)
                centroids[j] = c / max(np.linalg.norm(c), 1e-12)
    return [c.tolist() for c in centroids]


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into ``n_lists``
    Voronoi cells (seeded KMeans), then score each query only against the
    ``n_probe`` nearest cells — the other classic ANN index besides LSH.

    The centroid model is tiny and fits driver-side on a sample; corpus
    assignment is one broadcast-join pass. Recall rises with n_probe
    (n_probe = n_lists degenerates to exact brute force).

    Pass ``centroids`` to reuse an externally-fitted model — e.g. the
    full-corpus quantized fit (clustering.fit_centroids_distributed)
    when a 4096-row sample would under-represent the distribution.
    """
    if centroids is None:
        centroids = fit_centroids(corpus, vec_col, n_lists, seed)
    cent_sql = _matrix_sql(centroids)

    def nearest_cells(vec_col_name: str, n: int) -> Column:
        """indices of the n highest-dot centroids — one parsed SQL
        literal for the centroid matrix (see _matrix_sql)."""
        return F.expr(
            f"""
            transform(
              slice(reverse(array_sort(
                zip_with({cent_sql}, sequence(0, {len(centroids) - 1}),
                         (c, j) -> struct(
                           aggregate(zip_with(`{vec_col_name}`, c,
                                              (a, b) -> a * b),
                                     0.0D, (s, y) -> s + y) AS s,
                           j AS j)))),
                1, {n}),
              t -> t.j)
            """
        )

    c = widen_for_cpu(corpus).select(
        F.col(id_col).alias("doc"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("cnorm", norm(F.col("vec")))
    c = c.withColumn("cell", nearest_cells("vec", 1)[0])

    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("qnorm", norm(F.col("qv")))
        .withColumn("cell", F.explode(nearest_cells("qv", n_probe)))
    )
    scored = (
        c.join(q, "cell")
        .filter(F.col("doc") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(dot(F.col("qv"), F.col("vec")) / (F.col("qnorm") * F.col("cnorm")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("doc").alias("neighbor_id"), F.round("sim", 4).alias("sim"))
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing ≥1 of the
    ``bands`` sketch bands with the query; exact cosine re-ranks.

    Recall/candidate tradeoff: fewer bits per band (n_planes/bands) →
    looser buckets → higher recall but more candidates to re-rank. The
    2-bit default measures recall 1.0 on the driver corpus (top-5
    neighbors sit at modest cosine, where 4-bit bands drop to ~0.5
    recall); on a high-similarity near-dup corpus prefer 4-bit bands
    (n_planes=16, bands=4) for much stronger pruning."""
    # norms computed BEFORE the band fan-out (once per row, not per band)
    cs = lsh_sketch(corpus, id_col, vec_col, dim, n_planes, seed).withColumn(
        "cnorm", norm(F.col("vec"))
    )
    qs = lsh_sketch(queries, id_col, vec_col, dim, n_planes, seed).select(
        F.col("doc").alias("query_id"),
        F.col("vec").alias("qv"),
        "sketch",
        norm(F.col("vec")).alias("qnorm"),
    )
    cand = _banded_join(
        cs, broadcast(qs), "sketch", bands, keys=_bit_bands(n_planes, bands)
    ).select("query_id", "qv", "qnorm", "doc", "vec", "cnorm")
    scored = (
        cand.filter(F.col("doc") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(dot(F.col("qv"), F.col("vec")) / (F.col("qnorm") * F.col("cnorm")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("doc").alias("neighbor_id"), F.round("sim", 4).alias("sim"))
    )


def _semantic_cell_column(
    centroids: list[list[float]], v: Column, n: Column
) -> Column:
    """SemDeDup's cell id for a double vector ``v`` with norm ``n``:
    argmax over ROUNDED centroid cosine, ties to the smallest index —
    sort (−sim6, j) ascending and take the head, the same rule the SQL
    oracles express as ORDER BY s DESC, j ASC. Shared by
    :func:`semantic_dedup` and the incremental day-2 twin so the
    assignment rule cannot drift. (Distinct from
    :func:`cell_assignment_column`, which is IVF's unrounded-dot rule.)

    Takes COLUMN inputs, not column names: a name-based ``F.expr``
    variant broke Catalyst resolution ("key not found: _n#…") once
    frames built from it were unioned and reused in one plan — bound
    Columns side-step name resolution entirely."""
    CENTS = F.expr(_matrix_sql(centroids))
    pairs = F.zip_with(
        CENTS,
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda c, j: F.struct(
            (
                -F.round(
                    F.aggregate(
                        F.zip_with(v, c, lambda a, b: a * b),
                        F.lit(0.0),
                        lambda s, y: s + y,
                    )
                    / n,
                    6,
                )
            ).alias("negsim"),
            j.alias("j"),
        ),
    )
    return F.array_sort(pairs)[0]["j"].cast("int")


def build_semantic_state(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persisted embedding snapshot for day-2 semantic dedup:
    (doc, cell, v, nrm) — cell assignment and the norm precomputed once.
    Persist PARTITIONED BY ``cell``; :func:`incremental_semantic_dedup`
    then touches only the batch's cells (the IVF-index lifecycle applied
    to SemDeDup). Append the kept batch rows after each day.

    Built as ONE projection from the raw columns — no intermediate
    alias chain. A withColumn chain left intermediate attributes that
    Spark 4's Union constraint rewrite chokes on ("key not found:
    _n#…") whenever two state frames are unioned with live lineage
    (the append-day-2 flow); codegen's subexpression elimination makes
    the repeated norm expression free anyway."""
    v = _as_double(F.col(vec_col))
    return widen_for_cpu(df).select(
        F.col(id_col).alias("doc"),
        _semantic_cell_column(centroids, v, norm(v)).alias("cell"),
        v.alias("v"),
        norm(v).alias("nrm"),
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    state: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Day-2 SemDeDup: classify a batch of embeddings against a
    persisted snapshot (:func:`build_semantic_state`) — the embedding
    twin of ``dedup.incremental_dedup``. A batch doc is ``near_dup``
    when its cell holds ANY history doc at cosine ≥ ``threshold``, or a
    smaller-id batch doc at cosine ≥ threshold (the greedy keep-min
    rule of :func:`semantic_dedup`, single-pass / non-transitive);
    ``kept`` otherwise.

    Scale shape: batch rows join only their own cells of the
    cell-partitioned state (day-N cost ∝ batch × cell density, never
    corpus²) plus one within-batch cell self-join. All arithmetic is
    the rounded-cosine contract — fully deterministic, so the catalog
    gate carries a FULL exact oracle.

    Returns (id_col, cell, status, n_hist_matches).
    """
    # single projection, no intermediate alias chain — see
    # build_semantic_state's Union-constraint-rewrite note
    _v = _as_double(F.col(vec_col))
    # pin the assigned batch once: `b` feeds four consumers (hist join,
    # both sides of the within-batch self-join, the output join) and
    # the k-centroid argmin is an interpreted HOF the plan would
    # otherwise re-evaluate per reference; the pinned frame is
    # batch-sized (the day's ingest), the honest at-scale trade
    b = (
        widen_for_cpu(batch)
        .select(
            F.col(id_col).alias("_id"),
            _semantic_cell_column(centroids, _v, norm(_v)).alias("cell"),
            _v.alias("_v"),
            norm(_v).alias("_n"),
        )
        .localCheckpoint(eager=True)
    )
    sim_hist = F.round(
        dot(F.col("_v"), F.col("v")) / (F.col("_n") * F.col("nrm")), 6
    )
    hist_hits = (
        b.join(state, "cell")
        .withColumn("_s", sim_hist)
        .filter(F.col("_s") >= threshold)
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_hist_matches"))
    )
    b2 = b.select(
        "cell",
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    sim_batch = F.round(
        dot(F.col("_v"), F.col("_vb")) / (F.col("_n") * F.col("_nb")), 6
    )
    batch_hit = (
        b.join(b2, "cell")
        .filter(F.col("_idb") < F.col("_id"))
        .withColumn("_s", sim_batch)
        .filter(F.col("_s") >= threshold)
        .select("_id")
        .distinct()
        .withColumn("_bhit", F.lit(1))
    )
    out = (
        b.join(hist_hits, "_id", "left")
        .join(batch_hit, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            F.when(
                F.col("n_hist_matches").isNotNull()
                | F.col("_bhit").isNotNull(),
                F.lit("near_dup"),
            )
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("n_hist_matches", F.lit(0))
            .cast("long")
            .alias("n_hist_matches"),
        )
    )
    from jobinsight_data_pipeline_spark.operators.components import (
        register_pins,
    )

    # the output reads the pinned assigned batch — callers free it via
    # components.free_pins(result) after the last action (r13)
    return register_pins(out, b)


def unit_centroids(dim: int, n_clusters: int, seed: int = 11) -> list[list[float]]:
    """Data-independent seeded centroids: Gaussian rows, unit-normalized,
    rounded to 6 decimals. A deterministic Voronoi partition of the unit
    sphere that any engine reproduces from the same literal matrix —
    the engine-portable stand-in for :func:`fit_centroids` when a gate
    (or a reproducibility contract) needs bit-identical assignment."""
    rng = np.random.default_rng(seed)
    M = rng.standard_normal((n_clusters, dim))
    M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    return M.round(6).tolist()


def clustered_embeddings(
    df: DataFrame,
    centers: list[list[float]],
    lam: float = 0.375,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """A deterministic MIXTURE-OF-CLUSTERS unit-vector corpus derived
    in-engine from an existing embedding table:
    ``v' = normalize(center[id mod n] + lam · v)`` — cluster identity
    from the row id, the row's own (near-uniform) embedding as the
    within-cluster noise. Near-uniform synthetic embeddings make ANN
    recall numbers degenerate (exact neighbors are arbitrary, so every
    index scores ~0 — the eval gates' r11 honesty notes); this
    transform plants real neighborhood structure (within-cluster cosine
    ≈ 1/(1+lam²) ≈ 0.88 at the default, cross-cluster ≈ ±0.1) so
    recall curves have spread and encodings rank meaningfully.

    Engine-portable by construction: centers ride as one literal
    matrix, ``lam`` defaults to 0.375 (exactly representable — 3/8, no
    decimal-parse concerns), the float32 input widens to DOUBLE before
    the multiply, the norm is the left-to-right square fold DuckDB's
    ``list_dot_product(b, b)`` reproduces, and sqrt/divide are
    correctly rounded IEEE ops — so an oracle rebuilding the same
    expression sees bit-identical DOUBLE vectors (the semantic_dedup
    literal-matrix pattern). Three chained narrow projections (base →
    norm → divide) so each interpreted HOF evaluates once per row
    (CollapseProject keeps non-cheap exprs referenced >1× separate —
    the r9 lesson); no shuffle, no UDF."""
    n = len(centers)
    CM = _matrix_sql(centers)
    b = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.expr(
            f"zip_with(element_at({CM},"
            f" CAST({id_col} % {n} + 1 AS INT)), {vec_col},"
            f" (c, e) -> c + {lam!r}D * CAST(e AS DOUBLE))"
        ).alias("__b"),
    )
    withn = b.select(
        id_col,
        "__b",
        F.expr(
            "sqrt(aggregate(zip_with(__b, __b, (x, y) -> x * y),"
            " 0.0d, (s, y) -> s + y))"
        ).alias("__n"),
    )
    return withn.select(
        id_col, F.expr("transform(__b, x -> x / __n)").alias(vec_col)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    centroids: list[list[float]] | None = None,
    n_clusters: int = 8,
    seed: int = 42,
    transitive: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest centroid,
    compare pairs only WITHIN a cluster, and drop any document whose
    cluster holds a smaller-id neighbor with cosine ≥ ``threshold``
    (keep-min canonical — the greedy per-neighborhood survivor rule).
    ``transitive=True`` instead keeps exactly ONE document per connected
    near-dup group (pairs → large-star/small-star components → keep the
    component minimum): stricter — a survivor chain a~b, b~c with a≁c
    drops BOTH b and c, where the greedy rule keeps c.

    Scale posture: the cluster key bounds the quadratic — pairwise work
    is Σ|cell|², never n². At corpus scale raise ``n_clusters`` so the
    largest cell stays join-sized (SemDeDup itself runs ~100k clusters);
    assignment is a scan-fused projection against one literal centroid
    matrix, and the pair join shuffles on ``cell`` exactly once.

    ``centroids=None`` fits seeded KMeans on a bounded sample (the
    production path); pass an explicit matrix (e.g.
    :func:`unit_centroids`) for bit-reproducible cross-engine runs.
    Returns one row per input document: (id, cell, kept).
    """
    if centroids is None:
        centroids = fit_centroids(df, vec_col, n_clusters, seed)
    base = (
        widen_for_cpu(df)
        .select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_n", norm(F.col("_v")))
    )
    # pin the assignment once: `assigned` feeds both sides of the cell
    # self-join plus the output join, and the k-centroid argmin is an
    # interpreted HOF (never codegen'd, no subexpression elimination
    # across references — the r9 lesson), so the plan re-ran it 3× per
    # row; storing (id, cell, v, nrm) once beats recomputing at any
    # corpus size (same trade SemDeDup's own pipeline makes by
    # materializing cluster assignments before the pairwise stage)
    assigned = base.withColumn(
        "cell", _semantic_cell_column(centroids, F.col("_v"), F.col("_n"))
    ).localCheckpoint(eager=True)
    a = assigned.select(
        "cell", F.col("_id").alias("ida"), F.col("_v").alias("va"), F.col("_n").alias("na")
    )
    b = assigned.select(
        "cell", F.col("_id").alias("idb"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
    )
    sim6 = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    pairs = (
        a.join(b, "cell")
        .filter(F.col("ida") < F.col("idb"))
        .withColumn("sim6", sim6)
        .filter(F.col("sim6") >= threshold)
    )
    if transitive:
        from jobinsight_data_pipeline_spark.operators.components import (
            connected_components,
        )

        dropped = (
            connected_components(pairs.select("ida", "idb"), "ida", "idb")
            .filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("_dropped"))
        )
    else:
        dropped = pairs.select(F.col("idb").alias("_dropped")).distinct()
    from jobinsight_data_pipeline_spark.operators.components import (
        register_pins,
    )

    # the output reads the pinned assignment — callers free it via
    # components.free_pins(result) after the last action (r13)
    return register_pins(
        assigned.join(dropped, assigned["_id"] == dropped["_dropped"], "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            F.col("_dropped").isNull().alias("kept"),
        ),
        assigned,
    )


def _sign_matrix(dim: int, k: int, seed: int = 7) -> list[list[float]]:
    """Achlioptas-style ±1/sqrt(k) projection rows (seeded, rounded so
    the literal matrix is identical in every engine)."""
    rng = np.random.default_rng(seed)
    scale = 1.0 / float(np.sqrt(k))
    return (rng.choice([-1.0, 1.0], size=(k, dim)) * scale).round(6).tolist()


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    embedding onto ``k`` seeded ±1/sqrt(k) rows — the cheap first stage
    before ANN indexing or clustering when the raw dimension is large.

    The matrix inlines as ONE SQL literal (the lsh_sketch pattern), so
    the projection is a pure per-row zip_with fold — scan-fused,
    shuffle-free, deterministic, and bit-reproducible in any engine that
    evaluates the same literal. Emits ``p0..p{k-1}`` rounded to 4."""
    planes = _sign_matrix(dim, k, seed)
    cols = [F.col(id_col)]
    for j, row in enumerate(planes):
        row_sql = "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")"
        # `+ 0.0` after the round: a tiny NEGATIVE projection rounds to
        # IEEE -0.0 on one engine and +0.0 on the other (found by the
        # full sf0.1 sweep — vec 1354 hashed "-0" vs "0"); adding +0.0
        # normalizes the sign of zero identically everywhere
        cols.append(
            F.expr(
                f"round(aggregate(zip_with(`{vec_col}`, {row_sql},"
                " (a, b) -> cast(a AS double) * b),"
                " 0.0D, (s, y) -> s + y), 4) + 0.0D"
            ).alias(f"p{j}")
        )
    return widen_for_cpu(df).select(*cols)


# --- product quantization (IVF-PQ's memory half) ---------------------------


def pq_codebooks(
    dim: int = 64, m: int = 8, k: int = 16, seed: int = 5
) -> list[list[list[float]]]:
    """Seeded deterministic PQ codebooks: ``m`` subspaces × ``k``
    centroids × ``dim/m`` dims, Gaussian, rounded to 6 decimals so the
    literal reproduces bit-for-bit on any engine. Production would fit
    these per-subspace with KMeans (the :func:`fit_centroids` pattern);
    the seeded form is the reproducibility-contract stand-in."""
    assert dim % m == 0
    rng = np.random.default_rng(seed)
    C = rng.standard_normal((m, k, dim // m)).round(6)
    return C.tolist()


def _cube_sql(cube: list[list[list[float]]]) -> str:
    """Render codebooks as ONE array<array<array<double>>> SQL literal
    (the _matrix_sql lesson, one level deeper)."""
    return (
        "array("
        + ",".join(_matrix_sql(mat) for mat in cube)
        + ")"
    )


def _sq_dist(a, b):
    """Σ (a_i − b_i)² as a LEFT-TO-RIGHT zip_with fold — the accumulation
    order DuckDB's list_dot_product(diff, diff) reproduces exactly."""
    diffsq = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
    )
    return F.aggregate(diffsq, F.lit(0.0), lambda s, y: s + y)


def pq_codes_column(
    vec_col: str, codebooks: list[list[list[float]]]
) -> Column:
    """The PQ encoding as a composable Column expression (array<int> of
    per-subspace argmin codes; ties → lowest index via first-occurrence
    ``array_position``) — scan-fused, codebook as one parsed literal."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    CB = F.expr(_cube_sql(codebooks))

    def code_j(j: Column) -> Column:
        subv = F.slice(F.col(vec_col), j * sub + 1, sub)
        darr = F.transform(
            F.element_at(CB, (j + F.lit(1)).cast("int")),
            lambda c: _sq_dist(subv, c),
        )
        return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_j)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to ``m`` one-byte-ish centroid codes — the
    product-quantization compression that lets a 100 TB embedding corpus
    sit in memory (64 floats → 8 codes here). One scan-fused projection:
    the codebook rides as a single parsed literal, each subspace takes
    an argmin over its k centroids (ties → lowest index, pinned by
    first-occurrence ``array_position``), no shuffle, no UDF.

    Returns (id_col, codes array<int>). Reconstruction error is bounded
    by codebook quality, not corpus size; refine exact distances on the
    top candidates when recall matters (the standard IVF-PQ re-rank).

    The per-row argmin folds are interpreted HOFs (never whole-stage
    codegen'd), so a single-split scan would run the entire encode on
    ONE task regardless of cluster size. The operator therefore projects
    to (id, vec) and widens the scan itself (r13; previously the bench
    call site widened, which any other caller silently missed) — a no-op
    on real multi-split layouts, a round-robin shuffle of only the two
    needed columns otherwise (guide §2.6/§4)."""
    from jobinsight_data_pipeline_spark.operators.parallelism import (
        widen_for_cpu,
    )

    base = widen_for_cpu(df.select(F.col(id_col), F.col(vec_col)))
    return base.select(
        F.col(id_col), pq_codes_column(vec_col, codebooks).alias("codes")
    )


def pq_adc_topk(
    codes_df: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k against PQ codes: the query stays
    full-precision, its per-(subspace, centroid) squared distances are
    computed ONCE driver-side (the classic ADC lookup table — Python
    doubles are IEEE, so the table is bit-identical to an in-engine
    computation) and inlined as one literal; scoring a candidate is then
    ``m`` table lookups summed in subspace order. Scan-fused over the
    codes, TakeOrderedAndProject top-k, ties → ``id_col`` ascending.

    Returns (id_col, adc) with ``adc`` the approximate squared L2
    distance — refine with exact distances on these k when needed."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    lut = [
        [
            # left-to-right fold, matching _sq_dist / list_dot_product
            sum((query[j * sub + t] - c[t]) * (query[j * sub + t] - c[t]) for t in range(sub))
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    LUT = F.expr(_matrix_sql(lut))
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(LUT, (j + F.lit(1)).cast("int")),
            (F.element_at(F.col("codes"), (j + F.lit(1)).cast("int")) + F.lit(1)).cast("int"),
        ),
    )
    return (
        codes_df.select(F.col(id_col), adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ — the production serving composition: Voronoi cells prune
    the corpus to the query's ``n_probe`` nearest lists, PQ codes +
    asymmetric distance rank the survivors. At 100 TB the cell filter is
    a partition-prunable predicate (persist the corpus partitioned by
    cell) and the scored set is ``n_probe/n_lists`` of the data as
    one-byte codes — the memory-and-IO shape FAISS ships.

    Cell assignment is ``argmax_j dot(vec, centroid_j)`` (ties → lowest
    index, first-occurrence ``array_position`` — with unit centroids
    this equals cosine assignment without the norm divide); the query's
    probe cells are chosen driver-side from the same literal centroids
    with the same tie rule (sort by (−dot, j)). Everything is
    deterministic, so the composed path carries a FULL exact oracle in
    the catalog — no recall hand-waving.

    NOTE: this form re-assigns cells and re-encodes on every call —
    fine as a one-shot batch query, a scale-killer in a serve loop. For
    repeated queries build the index once with
    :func:`build_ivf_pq_index` (persist partitioned by ``cell``) and
    serve with :func:`ivf_pq_topk_indexed`. The one-shot IS
    build+serve composed in one plan (single code path — drift between
    the routes is structurally impossible; Catalyst substitutes the
    probe-cell filter through the build projection, so PQ codes are
    still only evaluated for surviving rows).
    """
    index = build_ivf_pq_index(
        corpus, centroids, codebooks, id_col, vec_col, residual=residual
    )
    return ivf_pq_topk_indexed(
        index, query, centroids, codebooks, k, n_probe, id_col,
        residual=residual,
    )


def cell_assignment_column(
    vec_col: str, centroids: list[list[float]]
) -> Column:
    """IVF cell id as a composable Column: ``argmax_j dot(vec,
    centroid_j)`` with ties → lowest index (first-occurrence
    ``array_position``); centroids ride as one parsed literal. Shared by
    the one-shot :func:`ivf_pq_topk` and :func:`build_ivf_pq_index` so
    the two routes cannot drift."""
    CENTS = F.expr(_matrix_sql(centroids))
    sarr = F.transform(
        CENTS,
        lambda c: F.aggregate(
            F.zip_with(
                F.col(vec_col), c, lambda a, b: a.cast("double") * b
            ),
            F.lit(0.0),
            lambda s, y: s + y,
        ),
    )
    return (F.array_position(sarr, F.array_max(sarr)) - 1).cast("int")


def residual_vec_column(
    vec_col: str, cell_col: str, centroids: list[list[float]]
) -> Column:
    """``v − centroid[cell]`` as a composable Column (array<double>) —
    the residual the IVFADC formulation quantizes (Jégou et al. 2011
    §IV): PQ-encoding the residual removes the cell offset from the
    quantization error, which is what holds recall at small m. The
    centroid matrix rides as one parsed literal; elements widen to
    DOUBLE before the subtract (float32 inputs must not stay float)."""
    CENTS = F.expr(_matrix_sql(centroids))
    return F.zip_with(
        F.col(vec_col),
        F.element_at(CENTS, (F.col(cell_col) + F.lit(1)).cast("int")),
        lambda a, b: a.cast("double") - b,
    )


def probe_cells(
    query: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The query's ``n_probe`` nearest IVF cells, chosen driver-side
    (centroid count is small by construction) with the SAME tie rule as
    :func:`cell_assignment_column`: sort by (−dot, j). Python doubles
    are IEEE, so this matches an in-engine computation bit-for-bit."""
    qdots = [
        sum(float(query[t]) * c[t] for t in range(len(c))) for c in centroids
    ]
    order = sorted(range(len(centroids)), key=lambda j: (-qdots[j], j))
    return order[:n_probe]


def build_ivf_pq_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """Build the IVF-PQ index ONCE: a single corpus scan emitting
    (id_col, cell, codes) — cell assignment and PQ encoding fused into
    one projection, no shuffle, no UDF. This is the build half of the
    build-once / serve-many duality (the
    :func:`~jobinsight_data_pipeline_spark.operators.ranking.build_inverted_index`
    pattern for embeddings).

    Persist the result PARTITIONED BY ``cell`` (e.g.
    ``lake.write(index, "ivfpq", partition_by=["cell"])``) — then
    :func:`ivf_pq_topk_indexed`'s probe-cell filter partition-prunes the
    scan and a query touches ``n_probe / n_lists`` of the index as
    one-byte-ish codes instead of re-encoding 100 TB of raw vectors
    per query (the FAISS IVFADC serving shape, Jégou et al. 2011).

    ``residual=True`` PQ-encodes ``v − centroid[cell]`` instead of the
    raw vector — the actual IVFADC formulation (Jégou et al. 2011 §IV):
    the cell offset no longer spends code bits, so quantization error
    drops and recall holds at small m. Serve residual indexes with the
    matching ``residual=True`` flag on the serving functions (the codes
    are in residual space — mixing the routes is meaningless; codes are
    deterministic either way so both routes carry FULL exact oracles).
    Still one fused scan, no shuffle, no UDF: the build is three chained
    narrow projections (cell → residual → codes) that CollapseProject
    keeps separate (each intermediate is a non-cheap interpreted HOF
    referenced more than once downstream — the r9 kmeans lesson), so
    the argmax and the subtract each evaluate once per row.

    Like :func:`pq_encode`, the build projects to (id, vec) and widens
    the scan itself (r13): the cell argmax + PQ-code folds are
    interpreted HOFs, so a single-split corpus would otherwise encode on
    ONE task no matter the caller. No-op on multi-split layouts; when a
    probe-cell filter is composed on top (the one-shot
    :func:`ivf_pq_topk`), Catalyst still pushes it below the round-robin
    exchange, so the one-shot path never shuffles non-surviving rows'
    codes.
    """
    from jobinsight_data_pipeline_spark.operators.parallelism import (
        widen_for_cpu,
    )

    corpus = widen_for_cpu(corpus.select(F.col(id_col), F.col(vec_col)))
    if not residual:
        return corpus.select(
            F.col(id_col),
            cell_assignment_column(vec_col, centroids).alias("cell"),
            pq_codes_column(vec_col, codebooks).alias("codes"),
        )
    with_cell = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        cell_assignment_column(vec_col, centroids).alias("cell"),
    )
    resid = with_cell.select(
        F.col(id_col),
        "cell",
        residual_vec_column("_v", "cell", centroids).alias("_r"),
    )
    return resid.select(
        F.col(id_col),
        "cell",
        pq_codes_column("_r", codebooks).alias("codes"),
    )


def ivf_pq_topk_indexed(
    index: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    residual: bool = False,
) -> DataFrame:
    """Serve half of the IVF-PQ duality: top-``k`` against a prebuilt
    (id, cell, codes) index from :func:`build_ivf_pq_index`. Probe cells
    are chosen driver-side from the same literal centroids
    (:func:`probe_cells`), the ``cell IN (...)`` filter partition-prunes
    a cell-partitioned index at the scan, and the survivors are
    ADC-ranked via :func:`pq_adc_topk` (driver-built literal LUT, heap
    top-k). Per-query work is ``n_probe/n_lists`` of the codes — no
    corpus rescan, no re-encode.

    Bit-identical to :func:`ivf_pq_topk` on the same corpus /
    centroids / codebooks — the catalog pins both routes to ONE exact
    oracle.

    ``residual=True`` serves a ``residual=True`` index (IVFADC, Jégou
    et al. 2011 §IV): the ADC lookup table is built driver-side PER
    PROBED CELL from the query residual ``q − centroid[cell]`` —
    ``n_probe`` tables of m×k doubles (model-sized; Python doubles are
    IEEE so the literal matches an in-engine computation bit-for-bit),
    inlined as one 3-level literal indexed by the candidate's probe
    position. Scoring stays m lookups summed in subspace order."""
    probe = probe_cells(query, centroids, n_probe)
    cand = index.filter(F.col("cell").isin(*probe))
    if not residual:
        return pq_adc_topk(
            cand.select(id_col, "codes"), query, codebooks, k, id_col=id_col
        )
    m = len(codebooks)
    sub = len(codebooks[0][0])
    lut3 = []
    for c in probe:
        qr = [float(query[t]) - centroids[c][t] for t in range(len(query))]
        lut3.append(
            [
                [
                    # left-to-right fold, matching the in-engine
                    # zip_with accumulation of ivf_pq_topk_many
                    sum(
                        (qr[j * sub + t] - cc[t]) * (qr[j * sub + t] - cc[t])
                        for t in range(sub)
                    )
                    for cc in codebooks[j]
                ]
                for j in range(m)
            ]
        )
    LUT3 = F.expr(_cube_sql(lut3))
    PROBE = F.expr("array(" + ",".join(str(c) for c in probe) + ")")
    cell_lut = F.element_at(LUT3, F.array_position(PROBE, F.col("cell")).cast("int"))
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(cell_lut, (j + F.lit(1)).cast("int")),
            (
                F.element_at(F.col("codes"), (j + F.lit(1)).cast("int"))
                + F.lit(1)
            ).cast("int"),
        ),
    )
    return (
        cand.select(F.col(id_col), adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk_many(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """Batched IVF-PQ serving: top-``k`` for a whole DataFrame of query
    vectors against a prebuilt :func:`build_ivf_pq_index` index — the
    production serving shape (one job amortizes the index scan over the
    batch), fully distributed with NOTHING collected to the driver.

    ``residual=True`` serves a ``residual=True`` index (IVFADC): the
    per-(query, cell) residual ``q − centroid[cell]`` is computed
    IN-ENGINE in the probes frame (one zip_with per exploded probe row,
    queries ≪ corpus so this rides the broadcast), and the same ADC
    fold then runs against it — a one-row query batch is bit-identical
    to ``ivf_pq_topk_indexed(residual=True)`` (pinned by test).

    Per query, probe cells are picked IN-ENGINE: dot against the literal
    centroid matrix, ``array_sort`` on (−dot, cell) structs — the exact
    tie rule of :func:`probe_cells` — sliced to ``n_probe`` and
    exploded. The (query, cell) frame broadcasts onto the index's cell
    equi-join (queries ≪ corpus; a cell-partitioned parquet index also
    makes this join dynamic-partition-prunable). ADC is computed
    directly per (query, candidate): per-subspace squared distance to
    the coded centroid, subspaces folded j = 0..m−1 — the SAME
    accumulation order as :func:`pq_adc_topk`'s driver-built LUT, so a
    one-row query batch is bit-identical to
    :func:`ivf_pq_topk_indexed` (pinned by test). Final per-query
    top-k: rank window over (adc, id).

    Returns (query_id_col, rank, id_col, adc).
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    CENTS = F.expr(_matrix_sql(centroids))
    CB = F.expr(_cube_sql(codebooks))

    qv = _as_double(F.col(query_vec_col))
    sarr = F.transform(
        CENTS,
        lambda c: F.aggregate(
            F.zip_with(qv, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda s, y: s + y,
        ),
    )
    ranked_cells = F.slice(
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                lambda j: F.struct(
                    (-F.element_at(sarr, (j + F.lit(1)).cast("int"))).alias(
                        "negdot"
                    ),
                    j.cast("int").alias("cell"),
                ),
            )
        ),
        1,
        n_probe,
    )
    probes = queries.select(
        F.col(query_id_col),
        qv.alias("_qv"),
        F.explode(F.transform(ranked_cells, lambda x: x["cell"])).alias(
            "cell"
        ),
    )
    if residual:
        # per (query, cell): the query residual replaces the raw query
        # vector; everything downstream (term/adc/rank) is unchanged
        probes = probes.select(
            query_id_col,
            "cell",
            F.zip_with(
                F.col("_qv"),
                F.element_at(
                    CENTS, (F.col("cell") + F.lit(1)).cast("int")
                ),
                lambda a, b: a - b,
            ).alias("_qv"),
        )

    # ADC lookup table, built ONCE per probe row on the (tiny,
    # broadcast) query side: lut[j][c] = ||qsub_j − CB[j][c]||², each
    # entry the same zip_with + left-to-right aggregate fold the
    # per-candidate form used, and the per-candidate score sums the m
    # looked-up entries in the same j order — so the adc doubles are
    # BIT-IDENTICAL to the previous per-candidate computation (and to
    # ivf_pq_topk_indexed's driver-built LUT; both pins unchanged).
    # Why: the interpreted HOF work drops from m·sub multiply-adds per
    # CANDIDATE (dim = 64 ops on every probed index row) to m·k·sub per
    # PROBE ROW (queries × n_probe rows, model-sized) plus m element_at
    # lookups per candidate; the broadcast row also sheds the query
    # vector.
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.element_at(CB, (j + F.lit(1)).cast("int")),
            lambda cc: F.aggregate(
                F.zip_with(
                    F.slice(
                        F.col("_qv"),
                        (j * F.lit(sub) + F.lit(1)).cast("int"),
                        F.lit(sub),
                    ),
                    cc,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda s, y: s + y,
            ),
        ),
    )
    probes = probes.withColumn("_lut", lut).drop("_qv")

    cand = index.join(broadcast(probes), "cell")

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("_lut"), (j + F.lit(1)).cast("int")),
            (
                F.element_at(F.col("codes"), (j + F.lit(1)).cast("int"))
                + F.lit(1)
            ).cast("int"),
        ),
    )
    scored = cand.select(
        query_id_col, id_col, adc.alias("adc")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "adc")
    )


def prototype_prune(
    df: DataFrame,
    centroids: list[list[float]],
    drop_fraction: float = 0.2,
    keep: str = "hard",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws", arXiv:2206.14486): rank every embedding by
    its cosine to its own cluster prototype and drop ``drop_fraction``
    per cell — ``keep='hard'`` drops the EASIEST examples (closest to
    the prototype; the data-rich regime where redundant easy points
    teach nothing), ``keep='easy'`` drops the hardest (the data-poor /
    noisy-tail regime). The quality complement of :func:`semantic_dedup`
    — that prunes redundancy BETWEEN documents, this prunes by
    prototypicality WITHIN a cluster.

    Exactness discipline: the per-doc similarity is the same rounded
    cosine as the cell assignment, quantized to micro BIGINT before any
    ranking (no float-order flake class), ties broken by id; the drop
    count per cell is ``floor(drop_fraction * |cell|)`` in integer
    arithmetic. Shape: one scan for assignment + one rank window per
    cell — shuffles on ``cell`` exactly once, the semantic_dedup plan.

    Returns (id_col, cell, sim_micro, pruned).
    """
    if keep not in ("hard", "easy"):
        raise ValueError(f"keep must be 'hard' or 'easy', got {keep!r}")
    if not 0.0 <= drop_fraction < 1.0:
        raise ValueError(f"drop_fraction must be in [0, 1): {drop_fraction}")
    v = _as_double(F.col(vec_col))
    base = widen_for_cpu(df).select(
        F.col(id_col).alias("_id"),
        _semantic_cell_column(centroids, v, norm(v)).alias("cell"),
        v.alias("_v"),
        norm(v).alias("_n"),
    )
    CENTS = F.expr(_matrix_sql(centroids))
    own = F.element_at(CENTS, (F.col("cell") + F.lit(1)).cast("int"))
    # floor BEFORE the cast: round(cos,6)*1e6 can land a hair below the
    # integer (0.123456 is not binary-exact) and Spark's cast truncates
    # while DuckDB's rounds — floor agrees on identical doubles
    sim_micro = F.floor(
        F.round(dot(F.col("_v"), own) / F.col("_n"), 6) * F.lit(1_000_000.0)
    ).cast("long")
    scored = base.withColumn("sim_micro", sim_micro)
    # keep='hard' drops the most prototypical (highest sim) first;
    # keep='easy' drops the least prototypical (lowest sim) first
    order = (
        [F.col("sim_micro").desc(), F.col("_id").asc()]
        if keep == "hard"
        else [F.col("sim_micro").asc(), F.col("_id").asc()]
    )
    w = Window.partitionBy("cell").orderBy(*order)
    w_n = Window.partitionBy("cell")
    frac_micro = int(round(drop_fraction * 1_000_000))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .withColumn("_cn", F.count(F.lit(1)).over(w_n))
        .select(
            F.col("_id").alias(id_col),
            "cell",
            "sim_micro",
            (
                F.col("_rk")
                <= F.expr(f"(_cn * {frac_micro}) div 1000000")
            ).alias("pruned"),
        )
    )


# --------------------------------------------------------------------------
# Scalar (int8) quantization — the FAISS SQ8 memory path: 64 float32 (256 B)
# -> 64 uint8 codes (64 B) with a 64-entry per-dimension affine table.
# Complements PQ (pq_encode): SQ keeps per-dimension resolution (no
# codebook training, exact affine reconstruction) at 1 byte/dim, where PQ
# compresses harder (1 byte per SUBVECTOR) but needs centroids. At 100 TB
# the corpus is stored as codes; queries stay full-precision and rank by
# the asymmetric dequantized dot product — one corpus scan, no shuffle.
# --------------------------------------------------------------------------


def sq8_stats(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-row frame (mn: array<double>, span: array<double>) holding the
    per-dimension min and range of the corpus — the SQ8 quantization
    table. One posexplode + partial-agg groupBy(pos) (collapses map-side
    to ≤dim rows per task), then a dim-row assembly into sorted arrays.
    min/max are order-insensitive, so the table is exact on any
    partitioning; FLOAT widens to DOUBLE before any arithmetic
    (CLAUDE.md float-promotion lesson)."""
    x = corpus.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x")
    )
    per = x.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return (
        per.groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("_a"),
            F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("_b"),
        )
        .select(
            F.transform("_a", lambda s: s["mn"]).alias("mn"),
            F.zip_with(
                F.transform("_b", lambda s: s["mx"]),
                F.transform("_a", lambda s: s["mn"]),
                lambda a, b: a - b,
            ).alias("span"),
        )
    )


#: code d = clamp(floor((x_d - mn_d) * 255 / span_d + 0.5), 0, 255);
#: constant dimensions (span 0) code to 0 and reconstruct to mn exactly
_SQ8_CODES = """
transform(cv, (x, i) ->
  CASE WHEN element_at(span, i + 1) = 0.0D THEN 0L
       ELSE least(255L, greatest(0L,
              floor((x - element_at(mn, i + 1)) * 255.0D
                    / element_at(span, i + 1) + 0.5D)))
  END)
"""

#: recon d = mn_d + code_d * span_d / 255 — the exact affine inverse
_SQ8_RECON = """
transform(codes, (c, i) ->
  element_at(mn, i + 1)
  + cast(c AS double) * element_at(span, i + 1) / 255.0D)
"""


def sq8_encode(
    corpus: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize the corpus against a ``sq8_stats`` table: (id, codes
    array<long> of 0..255). The 1-row stats frame broadcasts (bytes,
    not data); the encode is one scan-fused interpreted-HOF projection,
    so the input is widened for CPU density first."""
    from pyspark.sql.functions import broadcast

    return (
        widen_for_cpu(corpus)
        .select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
        .crossJoin(broadcast(stats))
        .select(id_col, F.expr(_SQ8_CODES).alias("codes"))
    )


def sq8_topk_micro(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Asymmetric SQ8 top-k: full-precision queries against the int8-
    quantized corpus, ranked by the dequantized dot product in exact
    per-term micro-units — ``Σ_d floor(q_d · recon_d · 10⁶)`` as BIGINT,
    so the score is integer-exact on any engine and partitioning (the
    per-term floor of bit-identical doubles kills the float-summation-
    order flake class; CLAUDE.md). Ties break on neighbor id.

    One corpus scan (stats broadcast + query broadcast, both bytes);
    codes never leave the scan — this is the serve-shape whose stored
    twin is ``sq8_encode`` output. The one-shot IS build+serve composed
    in one plan (:func:`build_sq8_index` → :func:`sq8_topk_indexed`,
    single code path — drift between the routes is structurally
    impossible; the encode projection fuses into the scan exactly as
    before)."""
    codes, stats = build_sq8_index(corpus, id_col, vec_col)
    return sq8_topk_indexed(codes, stats, queries, id_col, vec_col, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_neg: int = 5,
    exclude_sim: float = 0.99,
    max_rows: int | None = BRUTE_FORCE_MAX_ROWS,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    ``k_neg`` MOST similar corpus items that are NOT positives —
    neighbors with rounded cosine ≥ ``exclude_sim`` (near-duplicates /
    label-identical copies) are excluded, then the remainder re-ranks.
    These are the negatives that actually teach an embedding model
    (random negatives are trivially separable; the near-threshold ones
    carry the gradient — the standard DPR/contrastive recipe).

    Membership and order use the 6-decimal rounded similarity with id
    tie-breaks (the ``cosine_topk`` discipline), so the mined set is
    deterministic and engine-portable. Exact O(corpus × queries)
    baseline, same guard as ``cosine_topk``; at corpus scale substitute
    the ANN candidate stream (``lsh_cosine_topk`` / IVF) for the scored
    frame and keep the exclusion + re-rank stages unchanged."""
    _guard_brute_force(corpus, max_rows, "lsh_cosine_topk/ivf_cosine_topk")
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        ).withColumn("qnorm", norm(F.col("qv")))
    )
    c = (
        widen_for_cpu(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cnorm", norm(F.col("cv")))
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim6",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ),
        )
        .filter(F.col("sim6") < F.lit(float(exclude_sim)))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim6"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k_neg)
        .select(
            "query_id", "neg_rank", "neighbor_id",
            F.round("sim6", 4).alias("sim"),
        )
    )


def build_sq8_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build-once half of the SQ8 duality (the IVF-PQ/BM25 discipline):
    returns ``(codes, stats)`` — the int8 code table (id, codes) to
    persist as the corpus artifact (4× smaller than float32) and the
    1-row quantization table (mn, span) to persist beside it. Serving
    then never rescans or re-encodes the raw vectors."""
    stats = sq8_stats(corpus, vec_col)
    return sq8_encode(corpus, stats, id_col, vec_col), stats


def sq8_topk_indexed(
    codes: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Serve-many half: rank a persisted SQ8 code table against
    full-precision queries — identical math to :func:`sq8_topk_micro`
    (the per-term-floored BIGINT micro sum over the affine
    reconstruction), so both routes pin to ONE oracle; per-query work
    is a single pass over the stored codes, no re-encode."""
    from pyspark.sql.functions import broadcast

    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
    )
    scored = (
        widen_for_cpu(codes)
        .select(F.col(id_col).alias("neighbor_id"), "codes")
        .crossJoin(broadcast(stats))
        .crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "adc_micro",
            F.expr(
                f"""aggregate(
                      zip_with(qv, {_SQ8_RECON},
                               (a, b) -> cast(floor(a * b * 1000000.0)
                                              AS long)),
                      0L, (s, y) -> s + y)"""
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_micro"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_micro")
    )


#: MMR is a RERANK over an ANN/BM25 top-N — never a corpus-wide op
MMR_MAX_CANDIDATES = 10_000


def mmr_rerank(
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel_micro",
    k: int = 8,
    lambda_micro: int = 700_000,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    SIGIR'98) — the standard rerank that trades relevance against
    redundancy when a retrieval top-N is near-duplicate-heavy: pick
    argmax of ``λ·rel − (1−λ)·max_sim_to_already_selected`` k times.

    Exact integer objective: relevance arrives as micro-units
    (``rel_col`` BIGINT), pairwise cosines quantize to
    ``floor(cos·10⁶)``, and the objective
    ``λµ·rel − (10⁶−λµ)·maxsim`` stays in BIGINT — ties to the smaller
    id, so every pick is engine-portable and the DuckDB oracle unrolls
    all k rounds.

    Scale posture: MMR reranks a CANDIDATE SET (an ANN/BM25 top-N),
    never a corpus — guarded at {MMR_MAX_CANDIDATES} rows. Pairwise
    similarities compute ONCE as a broadcast self-join (N² small by
    contract); each of the k rounds is one tiny distributed argmax
    (TakeOrderedAndProject + a 1-row collect — the kmeans per-round
    driver-scalar class). Greedy selection is inherently sequential;
    k·2 driver round trips over N ≤ 10⁴ rows is the honest cost.

    Returns one row per pick: ``pick`` (1-based), the id, ``rel_micro``
    and ``obj_micro`` (the winning objective).
    """
    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )

    n = candidates.count()
    if n > MMR_MAX_CANDIDATES:
        raise ValueError(
            f"mmr_rerank is a rerank over a top-N candidate set; got {n} "
            f"rows (> {MMR_MAX_CANDIDATES}). Cut with an ANN/BM25 top-N "
            "first."
        )
    cand = candidates.select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
        F.col(rel_col).cast("long").alias("_rel"),
    ).withColumn("_nrm", norm(F.col("_v")))
    cand = cand.localCheckpoint(eager=True)
    a = cand.select(
        F.col("_id").alias("i"), F.col("_v").alias("va"),
        F.col("_nrm").alias("na"),
    )
    b = cand.select(
        F.col("_id").alias("j"), F.col("_v").alias("vb"),
        F.col("_nrm").alias("nb"),
    )
    pairs = (
        a.crossJoin(broadcast(b))
        .where(F.col("i") != F.col("j"))
        .select(
            "i", "j",
            F.floor(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
                * F.lit(1000000.0)
            ).cast("long").alias("sim_micro"),
        )
    ).localCheckpoint(eager=True)

    lam = int(lambda_micro)
    picks: list = []
    rows = []
    for t in range(1, int(k) + 1):
        rem = cand.where(~F.col("_id").isin(picks) if picks else F.lit(True))
        if picks:
            ms = (
                pairs.where(F.col("j").isin(picks))
                .groupBy("i")
                .agg(F.max("sim_micro").alias("_ms"))
            )
            scored = rem.join(ms, rem["_id"] == ms["i"], "left").select(
                "_id", "_rel",
                F.coalesce("_ms", F.lit(0)).alias("_ms"),
            )
        else:
            scored = rem.select(
                "_id", "_rel", F.lit(0).cast("long").alias("_ms")
            )
        scored = scored.withColumn(
            "_obj",
            F.lit(lam) * F.col("_rel")
            - F.lit(1_000_000 - lam) * F.col("_ms"),
        )
        top = scored.orderBy(F.desc("_obj"), F.asc("_id")).limit(1).collect()
        if not top:
            break
        r = top[0]
        picks.append(r["_id"])
        rows.append((t, r["_id"], r["_rel"], r["_obj"]))
    _free_local_checkpoint(pairs)
    _free_local_checkpoint(cand)
    return candidates.sparkSession.createDataFrame(
        rows, "pick long, picked_id long, rel_micro long, obj_micro long"
    )


def mutual_knn_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    max_rows: int | None = BRUTE_FORCE_MAX_ROWS,
) -> DataFrame:
    """Reciprocal k-nearest-neighbor pairs: (a, b) kept only when b is
    in a's top-k AND a is in b's top-k — the mutual-confirmation
    criterion that cuts hub-induced false matches in duplicate
    detection and bitext mining (a popular vector near everything is
    top-k for many rows, but few of them are top-k for IT). Ranks use
    the 6-decimal rounded cosine with id tie-breaks (the cosine_topk
    discipline), so membership is deterministic and engine-portable.

    Exact O(n²) baseline under the usual brute-force guard; at corpus
    scale substitute the ANN candidate stream for the scored frame and
    keep the mutual join unchanged. One all-pairs score pass, one
    rank window, one self-join on the reversed pair — emitted once per
    unordered pair (a < b) with both directional ranks.
    """
    _guard_brute_force(df, max_rows, "lsh_cosine_topk/ivf_cosine_topk")
    base = widen_for_cpu(df).select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    a = base.select(
        F.col("_id").alias("i"), F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    b = base.select(
        F.col("_id").alias("j"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    scored = (
        a.crossJoin(broadcast(b))
        .where(F.col("i") != F.col("j"))
        .select(
            "i", "j",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("sim6"),
        )
    )
    w = Window.partitionBy("i").orderBy(F.desc("sim6"), F.asc("j"))
    ranked = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    rev = ranked.select(
        F.col("i").alias("j"), F.col("j").alias("i"),
        F.col("rank").alias("rank_ba"),
    )
    return (
        ranked.join(rev, ["i", "j"])
        .where(F.col("i") < F.col("j"))
        .select(
            F.col("i").alias("id_a"),
            F.col("j").alias("id_b"),
            F.col("rank").alias("rank_ab"),
            "rank_ba",
            # floor-quantized integer micro, not a re-rounded double:
            # round(round(x,6),4) hits the double-rounding boundary
            # class at sf0.1 (measured 0.3879 vs 0.3878) — floors of
            # identical doubles are exact
            F.floor(F.col("sim6") * F.lit(1000000.0)).cast("long").alias(
                "sim_micro"
            ),
        )
    )
