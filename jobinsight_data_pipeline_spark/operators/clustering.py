"""Distributed k-means over embedding columns — Lloyd's algorithm in
exact integer arithmetic.

:func:`fit_centroids` (operators/similarity.py) trains on a bounded
driver-side sample — the right call for centroid models whose quality
tolerates sampling, but a 100-TB curation pipeline also needs the full
MLlib-shaped fit: broadcast the (tiny) centroid model, assign every
vector in one scan-fused pass, recompute centroids with one partial
aggregation, repeat. This module supplies that shape with a twist that
makes it GATEABLE: all arithmetic is quantized BIGINT, so assignments,
centroid updates, and inertia are bit-identical on any engine,
partitioning, or retry — a DuckDB oracle can replay the whole iterative
fit exactly (the pagerank_quantized discipline, operators/components.py).

Why integers: float Lloyd's is shuffle-order-dependent (per-cell float
sums), so two runs of the SAME code can disagree in the last ulp and
flip a boundary vector's cell. Quantizing at 1e-6 changes the clustering
immaterially (embedding coordinates carry ~7 significant digits) and
buys determinism.

Internal domain: coordinates are shifted non-negative
(``floor(x*scale) + scale``) so every division is on non-negative
integers — Spark's truncating ``div`` and DuckDB's ``//`` provably agree
there, and the round-half-up mean ``(2*s + n) div (2*n)`` is exact on
both engines (the CLAUDE.md integer-averaging rule). Public API returns
UNSHIFTED quantized coordinates.

Scale shape per iteration: zero-shuffle assignment (the centroid matrix
is one parsed literal in the plan; the distance fold is a higher-order
function — interpreted per row, so cost is CPU at parallelism = input
tasks, hence the widen/checkpoint notes below) + one partial-aggregating
shuffle of k*dim groups for the update + one k*dim-row collect. That is
Spark MLlib's KMeans topology; at 1000 executors the only
synchronization point is the tiny per-iteration model collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu

DEFAULT_SCALE = 10**6


def _imatrix_sql(rows: list[list[int]]) -> str:
    """Render a small integer matrix as ONE array<array<bigint>> SQL
    literal (the similarity._matrix_sql lesson: per-element F.lit costs
    a py4j round trip each; one parsed literal is milliseconds)."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(x)}L" for x in row) + ")"
            for row in rows
        )
        + ")"
    )


def quantize_shifted(vec_col: str, scale: int = DEFAULT_SCALE) -> Column:
    """``floor(x*scale) + scale`` per coordinate as BIGINT — the shared
    quantizer (floor, not round: the one double→int path both engines
    agree on per CLAUDE.md). Shift keeps every coordinate non-negative
    for coordinates in [-1, 1]. The coordinate is widened to DOUBLE
    BEFORE scaling: embeddings are FLOAT32 and Spark's float*int stays
    FLOAT (7 significant digits — off-by-one floors at scale=1e6) while
    DuckDB promotes to DOUBLE; widening first makes both engines floor
    the identical double."""
    return F.expr(
        f"transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT) + {scale}L)"
    )


def _sq_dist(p: str, c: str) -> str:
    """Squared L2 between two BIGINT arrays as a scan-fused fold."""
    return (
        f"aggregate(zip_with({p}, {c}, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )


def _assign_expr(centroids: list[list[int]]) -> tuple[Column, Column]:
    """(cell, dist) argmin columns over a literal centroid matrix.

    The distance VECTOR is one ``transform`` over the single parsed
    matrix literal, argmin is ``array_min`` + ``array_position`` (which
    returns the FIRST index holding the min — exactly the
    lowest-cell-id tie-break). A when-chain fold here would nest the
    running best into both the predicate and the else-branch of every
    step — an O(2^k) expression tree (measured: 3.5 MiB task binaries
    at k=8) — while this shape is linear in k and keeps the matrix in
    the plan once. Expects a column ``__p`` holding the shifted
    quantized vector.

    NOTE for hot paths: the distance-vector HOF is INTERPRETED, and
    these columns embed it 3× (twice in cell, once in dist) —
    subexpression elimination does not reach interpreted HOFs, so each
    row pays the k*dim fold three times. Callers that only need the
    cell (the Lloyd's loop) should use :func:`_dist_vec_expr` and
    project the vector ONCE, then argmin the materialized column
    (measured 2× per-iteration at sf0.1)."""
    ds = (
        f"transform({_imatrix_sql(centroids)}, "
        f"c -> {_sq_dist('__p', 'c')})"
    )
    dist = F.expr(f"array_min({ds})")
    cell = F.expr(
        f"CAST(array_position({ds}, array_min({ds})) - 1 AS INT)"
    )
    return cell, dist


def _dist_vec_expr(centroids: list[list[int]]) -> Column:
    """The squared-distance VECTOR (one slot per centroid) as a single
    column, for callers that materialize it once and derive argmin /
    min from the column (see the :func:`_assign_expr` note)."""
    return F.expr(
        f"transform({_imatrix_sql(centroids)}, "
        f"c -> {_sq_dist('__p', 'c')})"
    )


def _prepare_shifted(
    df: DataFrame, vec_col: str, id_col: str, scale: int
) -> DataFrame:
    """The shared fit input: ``(__id, __p)`` with shifted-quantized
    vectors, widened for the interpreted HOF folds and pinned with an
    eager localCheckpoint so every downstream job (seed draws, Lloyd's
    iterations) reads the materialized blocks instead of re-running
    scan + quantize + widen. Callers own the checkpoint — free it via
    ``components._free_local_checkpoint`` when the last job is done."""
    return widen_for_cpu(
        df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("__id"),
            quantize_shifted(vec_col, scale).alias("__p"),
        )
    ).localCheckpoint(eager=True)


def kmeans_fit_quantized(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 4,
    scale: int = DEFAULT_SCALE,
    init_centroids: list[list[int]] | None = None,
    _prepared: DataFrame | None = None,
    _skip_dim_probe: bool = False,
) -> list[list[int]]:
    """Full-corpus Lloyd's fit. Returns the final centroid matrix as
    UNSHIFTED quantized ints (row j = cell j), suitable for
    :func:`kmeans_assign` or, divided by ``scale``, for the float IVF
    builders (see :func:`fit_centroids_distributed`).

    Init: the k lowest-``id_col`` vectors in id order (deterministic,
    engine-portable — no RNG to reconcile), or an explicit
    ``init_centroids`` matrix (UNSHIFTED quantized ints, the same
    contract as the return value — pass :func:`kmeans_pp_seeds` output
    for distance-weighted k-means‖ seeding). Empty cells carry the
    previous centroid forward. Update rule per dimension:
    ``(2*sum + n) div (2*n)`` — round-half-up mean in the shifted
    non-negative domain.

    Each iteration runs one Spark job: scan-fused assignment against the
    broadcast literal + groupBy(cell, dim) partial agg + a k*dim-row
    collect. Driver state is the model only.
    """
    if k < 1:
        raise ValueError("kmeans_fit_quantized: k must be >= 1")
    if init_centroids is not None:
        if len(init_centroids) != k:
            raise ValueError(
                f"kmeans_fit_quantized: init_centroids has "
                f"{len(init_centroids)} rows, expected k={k}"
            )
        # a wrong-dim seed row would make zip_with pad with NULL, its
        # distance NULL, array_min skip it — that cell silently never
        # assigned; error instead (r10 ADVICE)
        dims = {len(c) for c in init_centroids}
        if len(dims) != 1:
            raise ValueError(
                f"kmeans_fit_quantized: init_centroids rows have mixed "
                f"dimensions {sorted(dims)}"
            )
    # the argmin fold is a higher-order function — interpreted row-at-a-
    # time, NOT whole-stage-codegen'd — so per-row cost is real CPU; a
    # single-file parquet input would run every iteration on ONE task
    # (the widen_for_cpu lesson, CLAUDE.md). Widen once; all iterations
    # inherit the layout. The quantized frame is localCheckpointed so
    # the scan + quantize + widen shuffle runs ONCE, not once per
    # iteration (A/B at sf0.1: 1.46 s → 0.59 s per round) — freed
    # before return via the components discipline.
    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )

    owns_checkpoint = _prepared is None
    q = (
        _prepare_shifted(df, vec_col, id_col, scale)
        if _prepared is None
        else _prepared
    )
    if init_centroids is not None:
        if not _skip_dim_probe:
            # one whole Spark job just to validate seed dimensions —
            # callers whose seeds PROVABLY came from the same prepared
            # frame (kmeans_pp_fit_quantized) skip it via
            # _skip_dim_probe (r13; 1 of the pp-fit entry's 13 jobs,
            # bit-identical model)
            probe = q.select(F.size("__p").alias("d")).limit(1).collect()
            if probe and probe[0]["d"] != len(init_centroids[0]):
                if owns_checkpoint:
                    _free_local_checkpoint(q)
                raise ValueError(
                    f"kmeans_fit_quantized: init_centroids dim "
                    f"{len(init_centroids[0])} != data dim {probe[0]['d']}"
                )
        centroids = [[x + scale for x in c] for c in init_centroids]
    else:
        seed_rows = q.orderBy("__id").limit(k).collect()
        if len(seed_rows) < k:
            raise ValueError(
                f"kmeans_fit_quantized: k={k} but only "
                f"{len(seed_rows)} vectors"
            )
        centroids = [list(r["__p"]) for r in seed_rows]  # shifted domain
    dim = len(centroids[0])
    # Per-iteration shape (r9 rework, measured 2× at sf0.1 warm): the
    # interpreted distance-vector HOF is projected ONCE per row
    # (_assign_expr would fold it twice inside the argmin), and the
    # update is 64 codegen'd element_at sums per cell instead of a
    # rows×dim posexplode — same partial-agg shuffle profile (k×dim
    # cells either way), but no rows×dim record blow-up and the whole
    # update side stays in whole-stage codegen. Results are bit-
    # identical (same sums, same round-half-up rule) — the unrolled
    # fit oracle is untouched.
    dim_aggs = [
        F.sum(F.element_at("__p", i + 1)).alias(f"s{i}") for i in range(dim)
    ]
    for _ in range(iterations):
        assigned = q.select("__p", _dist_vec_expr(centroids).alias("__ds")).select(
            "__p",
            F.expr(
                "CAST(array_position(__ds, array_min(__ds)) - 1 AS INT)"
            ).alias("cell"),
        )
        sums = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"), *dim_aggs)
            .collect()
        )
        new_c = [list(c) for c in centroids]  # empty cells keep previous
        for r in sums:
            j, n = r["cell"], r["n"]
            new_c[j] = [
                (2 * r[f"s{i}"] + n) // (2 * n) for i in range(dim)
            ]  # non-negative domain round-half-up
        centroids = new_c
    # the model lives driver-side; nothing downstream reads q's blocks
    if owns_checkpoint:
        _free_local_checkpoint(q)
    assert all(len(c) == dim for c in centroids)
    return [[x - scale for x in c] for c in centroids]  # unshift


def kmeans_pp_seeds(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    scale: int = DEFAULT_SCALE,
    seed_salt: str = "kpp0:",
    draw_salt: str = "kppd:",
    _prepared: DataFrame | None = None,
) -> list[list[int]]:
    """Distance-weighted k-means‖ seeding (Bahmani et al. 2012, one
    oversampling round with l = k-1 — i.e. k-means++'s D² draw done in
    ONE parallel pass instead of k sequential ones), made DETERMINISTIC
    and oracle-replayable via the engine-portable md5 draw:

    * seed 0 is the vector with the smallest ``md5(seed_salt || id)``
      (the cluster_balanced_draw order — a de-biased uniform pick,
      where first-k-by-id would inherit whatever the id order encodes);
    * every other vector computes its exact integer squared distance
      d² to seed 0 (one scan against the seed literal), and k-1 more
      seeds are drawn WITHOUT replacement with inclusion odds ∝ d²+1
      by Efraimidis–Spirakis A-ES — uniform u from the md5 prefix,
      quantized-ln priority ``floor(ln(u)·10⁶) / weight`` (the
      dsir_resample machinery: lq6 and the weight are BIGINTs < 2⁵³,
      so the priority double is bit-identical on any engine).

    Returns k UNSHIFTED quantized centroids (seed 0 first, then the
    k-1 draws in priority-rank order) for
    ``kmeans_fit_quantized(init_centroids=...)``. Two jobs total — a
    1-row min collect and a (k-1)-row top-k collect; driver state is
    the seed matrix only, so the shape survives any corpus size.

    Why it's worth a round: first-k-by-id seeding is quality-blind —
    ids say nothing about the embedding space, so nearby ids can seed
    the same region and Lloyd's starts from a degenerate model. The D²
    draw spreads seeds toward far-apart regions (measured on the
    testdata corpus: within-cluster SSE after the same 4 Lloyd's
    rounds improves vs first-k seeding — see the kmeans_pp_fit gate
    and COVERAGE.md round-10 notes)."""
    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )

    if k < 1:
        raise ValueError("kmeans_pp_seeds: k must be >= 1")
    owns_checkpoint = _prepared is None
    q = (
        _prepare_shifted(df, vec_col, id_col, scale)
        if _prepared is None
        else _prepared
    )
    md5_order = F.md5(
        F.concat(F.lit(seed_salt), F.col("__id").cast("string"))
    )
    seed_rows = q.orderBy(md5_order.asc(), F.col("__id").asc()).limit(
        1
    ).collect()
    if not seed_rows:
        raise ValueError("kmeans_pp_seeds: empty input")
    seed0 = list(seed_rows[0]["__p"])
    seed0_id = seed_rows[0]["__id"]
    seed_lit = "array(" + ",".join(f"{int(x)}L" for x in seed0) + ")"
    hexpfx = F.substring(
        F.md5(F.concat(F.lit(draw_salt), F.col("__id").cast("string"))), 1, 8
    )
    cand = (
        q.where(F.col("__id") != seed0_id)
        .withColumn("__w", F.expr(_sq_dist("__p", seed_lit)) + F.lit(1))
        .withColumn("__hv", F.conv(hexpfx, 16, 10).cast("long"))
        .withColumn(
            "__lq6",
            F.expr(
                "CAST(floor(ln((__hv + 1) / 4294967296.0) * 1000000.0)"
                " AS BIGINT)"
            ),
        )
        .orderBy(
            (
                F.col("__lq6").cast("double") / F.col("__w").cast("double")
            ).desc(),
            F.col("__id").asc(),
        )
        .limit(k - 1)
        .collect()
    )
    if len(cand) < k - 1:
        raise ValueError(
            f"kmeans_pp_seeds: k={k} but only {len(cand) + 1} vectors"
        )
    seeds = [seed0] + [list(r["__p"]) for r in cand]
    if owns_checkpoint:
        _free_local_checkpoint(q)
    return [[x - scale for x in s] for s in seeds]  # unshift


def kmeans_pp_fit_quantized(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 4,
    scale: int = DEFAULT_SCALE,
) -> list[list[int]]:
    """k-means‖ seeding + Lloyd's fit composed over ONE shared
    checkpointed quantize pass. Bit-identical to
    ``kmeans_fit_quantized(df, ..., init_centroids=kmeans_pp_seeds(df,
    ...))`` — same shifted-quantized inputs, same draws, same update
    rule — but the separate calls each built their own eager
    localCheckpoint of the identical ``(__id, __p)`` frame (scan +
    quantize HOF + widen shuffle ×2); sharing it removes a full
    prepare pass (measured ~0.9 s of the 3.0 s kmeans_pp_fit bench
    entry at sf0.1)."""
    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )

    q = _prepare_shifted(df, vec_col, id_col, scale)
    try:
        seeds = kmeans_pp_seeds(
            df, vec_col, id_col, k=k, scale=scale, _prepared=q
        )
        return kmeans_fit_quantized(
            df,
            vec_col,
            id_col,
            k=k,
            iterations=iterations,
            scale=scale,
            init_centroids=seeds,
            _prepared=q,
            # the seeds were drawn from q itself — dimensions cannot
            # mismatch, so the one-job validation probe is skipped (r13)
            _skip_dim_probe=True,
        )
    finally:
        _free_local_checkpoint(q)


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[int]],
    vec_col: str = "embedding",
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """Scan-fused assignment against a fitted quantized model: appends
    ``cell`` (int) and ``dist`` (BIGINT squared L2 in quantized units,
    shift-invariant). Zero shuffles — safe to run over any corpus size.

    The fold is interpreted (higher-order function), so cost is CPU per
    row: parallelism equals input tasks. The input is therefore widened
    to the cluster's cores first — a no-op (no Exchange) on an input
    that is already well-partitioned, which a real corpus is."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reserve_columns,
    )

    reserve_columns(df, ["cell", "dist", "__p", "__ds"], "kmeans_assign")
    df = widen_for_cpu(df)
    shifted = [[x + scale for x in c] for c in centroids]
    # Project the interpreted distance vector ONCE (__ds), then derive
    # cell+dist from the materialized column — _assign_expr would embed
    # the k*dim HOF fold 3× per row (see its docstring note). The two
    # projections do NOT collapse (CollapseProject refuses to duplicate
    # the non-cheap HOF referenced 3×), so this stays one pass and
    # Exchange-free.
    out = df.withColumn("__p", quantize_shifted(vec_col, scale)).withColumn(
        "__ds", _dist_vec_expr(shifted)
    )
    return (
        out.withColumn(
            "cell",
            F.expr("CAST(array_position(__ds, array_min(__ds)) - 1 AS INT)"),
        )
        .withColumn("dist", F.expr("array_min(__ds)"))
        .drop("__p", "__ds")
    )


def fit_centroids_distributed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    iterations: int = 4,
    scale: int = DEFAULT_SCALE,
) -> list[list[float]]:
    """Drop-in alternative to similarity.fit_centroids for corpora where
    a 4096-row sample under-represents the distribution: the same
    list[list[float]] contract (so ivf_cosine_topk / build_ivf_pq_index
    can consume it unchanged), but fit on EVERY vector via
    :func:`kmeans_fit_quantized`. Not L2-normalized — callers that need
    spherical centroids should normalize downstream; for cell
    ASSIGNMENT by argmax-dot the unnormalized means are the standard
    IVF coarse quantizer."""
    quantized = kmeans_fit_quantized(
        df, vec_col=vec_col, id_col=id_col, k=n_lists,
        iterations=iterations, scale=scale,
    )
    return [[x / scale for x in c] for c in quantized]


# --- PCA via power iteration (integer-exact) --------------------------------


def quantize_signed(vec_col: str, scale: int = DEFAULT_SCALE) -> Column:
    """``floor(x*scale)`` per coordinate as BIGINT — UNSHIFTED (signed)
    quantizer for moment/projection math where products must keep their
    sign. Same FLOAT→DOUBLE-first discipline as :func:`quantize_shifted`."""
    return F.expr(
        f"transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = DEFAULT_SCALE,
) -> list[list[int]]:
    """The exact integer Gram matrix ``G = Σ_rows q qᵀ`` of the signed-
    quantized vectors, collected as a dim×dim model (the k-means model
    discipline: the COLLECT is model-sized — dim(dim+1)/2 rows — never
    corpus-sized).

    One pass: each row emits its flattened upper triangle (dim(dim+1)/2
    products, one interpreted HOF) into a partial-agg shuffle keyed by
    the triangle index — map-side combine collapses every partition to
    ≤2080 rows regardless of corpus size. With coords in [-1, 1] and
    scale 10⁶ each product is ≤10¹²; BIGINT sums hold to ~9·10⁶ rows
    per... ~9·10⁶ billion rows total — at trillion-row corpora drop
    ``scale`` to 10³ (products 10⁶) or pre-aggregate per shard."""
    rows = gram_partials(df, vec_col, dim, scale).collect()
    return _triangle_to_matrix({r["k"]: r["g"] for r in rows}, dim)


def gram_partials(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """The Gram matrix as a ``(k, g)`` FRAME — flattened upper-triangle
    index and the exact BIGINT partial sum over this input. Gram sums
    COMMUTE, so partials over shards/micro-batches merge by plain
    addition per ``k`` (the CMS/first-seen mergeable-state family; see
    streaming/incremental.stream_state). ≤ dim(dim+1)/2 rows
    whatever the input size."""
    pairs = F.expr(
        f"flatten(transform(sequence(0, {dim - 1}), i -> "
        f"transform(sequence(i, {dim - 1}), j -> "
        f"struct(i * {dim} + j AS k, "
        "element_at(__q, i + 1) * element_at(__q, j + 1) AS p))))"
    )
    return (
        widen_for_cpu(
            df.where(F.col(vec_col).isNotNull()).select(
                quantize_signed(vec_col, scale).alias("__q")
            )
        )
        .select(F.explode(pairs).alias("e"))
        .select(F.col("e.k").alias("k"), F.col("e.p").alias("p"))
        .groupBy("k")
        .agg(F.sum("p").alias("g"))
    )


def _triangle_to_matrix(tri: dict[int, int], dim: int) -> list[list[int]]:
    """Mirror a flattened-upper-triangle dict into the full symmetric
    dim×dim matrix (absent cells are 0 — an all-NULL input column)."""
    g = [[0] * dim for _ in range(dim)]
    for i in range(dim):
        for j in range(i, dim):
            v = tri.get(i * dim + j, 0)
            g[i][j] = v
            g[j][i] = v
    return g


def _tz_div(a: int, b: int) -> int:
    """Integer division truncating toward ZERO (both engines' div/``//``
    semantics) — python's ``//`` floors, which differs on negatives."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def power_iteration_int(
    gram: list[list[int]],
    rounds: int = 4,
    scale: int = DEFAULT_SCALE,
) -> list[int]:
    """Top eigenvector of an integer Gram matrix by ``rounds`` power-
    iteration steps, every operation integer-exact and engine-portable:
    start from the all-``scale`` vector, multiply (python bigints —
    unbounded, so no overflow; the SQL oracle mirrors with HUGEINT),
    L∞-normalize back to ``[-scale, scale]`` with toward-zero division,
    and finally orient so the first nonzero component is positive
    (eigenvectors are sign-ambiguous; the convention makes the result
    unique). Deterministic: no RNG, no floats anywhere."""
    dim = len(gram)
    v = [scale] * dim
    for _ in range(rounds):
        w = [sum(gram[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            return [0] * dim
        v = [_tz_div(x * scale, m) for x in w]
    for x in v:
        if x != 0:
            if x < 0:
                v = [-y for y in v]
            break
    return v


def pca_project(
    df: DataFrame,
    eigvec: list[int],
    vec_col: str = "embedding",
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """Scan-fused projection of every vector onto a fitted quantized
    eigenvector: appends ``score_q = Σ q_i·v_i`` (BIGINT, quantized²
    units). Zero shuffles — the broadcast-literal assignment shape
    :func:`kmeans_assign` uses."""
    from jobinsight_data_pipeline_spark.operators.sampling import (
        reserve_columns,
    )

    reserve_columns(df, ["score_q", "__q"], "pca_project")
    vec_sql = "array(" + ",".join(f"{int(x)}L" for x in eigvec) + ")"
    return (
        df.withColumn("__q", quantize_signed(vec_col, scale))
        .withColumn(
            "score_q",
            F.expr(
                f"aggregate(zip_with(__q, {vec_sql}, (x, y) -> x * y), "
                "0L, (a, b) -> a + b)"
            ),
        )
        .drop("__q")
    )


# --- trained product-quantization codebooks ---------------------------------


def train_pq_codebooks_quantized(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    dim: int = 64,
    scale: int = DEFAULT_SCALE,
) -> list[list[list[int]]]:
    """Fit product-quantization codebooks on the FULL corpus — the
    trained path :func:`similarity.pq_codebooks`'s docstring defers to
    (its seeded Gaussians are a reproducibility stand-in; real PQ fits
    per-subspace k-means on the data, Jégou et al. 2011). Returns
    ``books[j][cell]`` as UNSHIFTED quantized ints per subspace.

    Same contract as :func:`kmeans_fit_quantized` (deterministic
    lowest-id seeding, round-half-up integer means, empty-cell
    carry-forward, shifted non-negative domain internally) — but all
    ``m`` subspace fits advance in ONE Spark job per iteration: each
    row computes its m per-subspace argmin cells (the ds-once
    projection), explodes to m (subspace, cell, subvector) slices, and
    a single partial-agg shuffle keyed by (subspace, cell) feeds the
    m·k·(dim/m)-value model collect. An m-loop of separate fits would
    scan the corpus m× per iteration for identical results.
    """
    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    q = widen_for_cpu(
        df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("__id"),
            quantize_shifted(vec_col, scale).alias("__p"),
        )
    ).localCheckpoint(eager=True)
    books = _pq_lloyds_books(q, m=m, k=k, iterations=iterations, sub=sub)
    _free_local_checkpoint(q)
    return [
        [[x - scale for x in c] for c in book] for book in books
    ]  # unshift


def _pq_lloyds_books(
    q: DataFrame, m: int, k: int, iterations: int, sub: int
) -> list[list[list[int]]]:
    """The shared per-subspace Lloyd's core over a CHECKPOINTED
    ``(__id, __p)`` frame whose vectors are non-negative shifted
    BIGINTs: deterministic lowest-``__id`` seeding, all ``m`` subspace
    fits advancing in ONE job per iteration (ds-once projection →
    explode → single partial-agg shuffle → model-sized collect),
    round-half-up integer means, empty-cell carry-forward. Returns
    ``books[j][cell]`` in the INPUT's shifted domain — callers own the
    unshift (raw vectors shift by ``scale``, IVF residuals by
    ``2·scale``; see :func:`train_pq_codebooks_residual`)."""
    seed_rows = q.orderBy("__id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(
            f"train_pq_codebooks: k={k} but only {len(seed_rows)} vectors"
        )
    books = [
        [list(r["__p"])[j * sub : (j + 1) * sub] for r in seed_rows]
        for j in range(m)
    ]  # shifted domain
    sub_aggs = [
        F.sum(F.element_at("__sv", i + 1)).alias(f"s{i}") for i in range(sub)
    ]
    for _ in range(iterations):
        ds_cols = [
            F.expr(
                f"transform({_imatrix_sql(books[j])}, "
                f"c -> {_sq_dist(f'slice(__p, {j * sub + 1}, {sub})', 'c')})"
            ).alias(f"__ds{j}")
            for j in range(m)
        ]
        cells = [
            F.expr(
                f"CAST(array_position(__ds{j}, array_min(__ds{j})) - 1"
                " AS INT)"
            ).alias(f"c{j}")
            for j in range(m)
        ]
        stacked = (
            q.select("__p", *ds_cols)
            .select("__p", *cells)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"),
                                F.col(f"c{j}").alias("cell"),
                                F.expr(
                                    f"slice(__p, {j * sub + 1}, {sub})"
                                ).alias("sv"),
                            )
                            for j in range(m)
                        ]
                    )
                ).alias("e")
            )
            .select(
                F.col("e.j").alias("j"),
                F.col("e.cell").alias("cell"),
                F.col("e.sv").alias("__sv"),
            )
        )
        sums = (
            stacked.groupBy("j", "cell")
            .agg(F.count(F.lit(1)).alias("n"), *sub_aggs)
            .collect()
        )
        new_books = [[list(c) for c in book] for book in books]
        for r in sums:
            n = r["n"]
            new_books[r["j"]][r["cell"]] = [
                (2 * r[f"s{i}"] + n) // (2 * n) for i in range(sub)
            ]
        books = new_books
    return books  # caller unshifts


def train_pq_codebooks_residual(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    dim: int = 64,
    scale: int = DEFAULT_SCALE,
) -> list[list[list[int]]]:
    """Fit PQ codebooks on IVF RESIDUALS — the third leg of the FAISS
    IVFADC training recipe (Jégou et al. 2011 §IV: train the coarse
    quantizer, train the product quantizer on the residuals
    ``v − centroid[cell]`` of that quantizer, then encode).

    ``centroids`` is the FITTED coarse quantizer as floats; cell
    assignment and the residual subtract are EXACTLY the encode path's
    (:func:`similarity.cell_assignment_column` /
    :func:`similarity.residual_vec_column` — argmax dot, ties → lowest
    index, DOUBLE-widened subtract), so the books are fitted on the
    same residual distribution ``build_ivf_pq_index(residual=True)``
    encodes — training on raw-space residuals or a different
    assignment rule would fit the wrong density. Residual coordinates
    of unit vectors against in-hull centroids live in (−2, 2), so the
    floor-quantized ints shift by ``+2·scale`` into the non-negative
    domain the shared Lloyd's core (:func:`_pq_lloyds_books`,
    deterministic lowest-id seeding, integer means, empty-cell
    carry-forward) requires. Returns UNSHIFTED residual-domain ints;
    divide by ``scale`` for the float books the ``residual=True``
    build/serve routes consume. One corpus scan per iteration plus the
    checkpointed quantize scan — the model collect is m·k·(dim/m)
    values, never data-sized."""
    from jobinsight_data_pipeline_spark.operators.components import (
        _free_local_checkpoint,
    )
    from jobinsight_data_pipeline_spark.operators.similarity import (
        cell_assignment_column,
        residual_vec_column,
    )

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if len(centroids) == 0 or len(centroids[0]) != dim:
        raise ValueError(
            "train_pq_codebooks_residual: centroid dim "
            f"{len(centroids[0]) if centroids else 0} != {dim}"
        )
    sub = dim // m
    shift = 2 * scale
    base = widen_for_cpu(
        df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("_v")
        )
    )
    with_cell = base.select(
        "__id", "_v", cell_assignment_column("_v", centroids).alias("cell")
    )
    resid = with_cell.select(
        "__id", residual_vec_column("_v", "cell", centroids).alias("_r")
    )
    q = resid.select(
        "__id",
        F.expr(
            f"transform(_r, x -> CAST(floor(x * {scale}) AS BIGINT)"
            f" + {shift}L)"
        ).alias("__p"),
    ).localCheckpoint(eager=True)
    books = _pq_lloyds_books(q, m=m, k=k, iterations=iterations, sub=sub)
    _free_local_checkpoint(q)
    return [
        [[x - shift for x in c] for c in book] for book in books
    ]  # unshift


def deflate_gram_int(
    gram: list[list[int]],
    eigvec: list[int],
    down: int = 10**13,
) -> list[list[int]]:
    """Hotelling deflation in exact integers: remove the fitted top
    direction from a Gram matrix so power iteration converges to the
    SECOND component. With λ = vᵀGv / vᵀv the standard deflation is
    ``G₂ = G − (λ/vᵀv)·v vᵀ``; eigenvectors are invariant under
    positive scaling, so this computes the integer-exact
    ``G·(vᵀv)² − (vᵀGv)·v vᵀ`` (python bigints — no overflow), then
    downscales every entry by ``down`` with toward-zero division to fit
    BIGINT for the SQL oracle's HUGEINT iteration (both engines' ``//``
    truncate toward zero, so the downscale replays exactly). The
    eigvec is coarsened to milli resolution first (vᵀv ≤ 64·10⁶ keeps
    (vᵀv)² within the budget)."""
    dim = len(gram)
    vm = [_tz_div(x, 1000) for x in eigvec]  # milli resolution
    d = sum(x * x for x in vm)
    if d == 0:
        return [list(r) for r in gram]
    lam_num = sum(
        vm[i] * gram[i][j] * vm[j] for i in range(dim) for j in range(dim)
    )
    d2 = d * d
    return [
        [
            _tz_div(gram[i][j] * d2 - lam_num * vm[i] * vm[j], down)
            for j in range(dim)
        ]
        for i in range(dim)
    ]
