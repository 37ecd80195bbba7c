"""Embedding similarity-search operators: brute-force cosine top-k (the
correctness baseline) and an IVF-style bucketed variant (the scale path).

UDF-free: dot products and norms are ``zip_with`` + ``aggregate`` folds over
``array<double>`` — sequential fold order makes the double arithmetic
bit-identical to DuckDB's ``list_dot_product`` (verified empirically), so
ANN queries get full value-hash oracles.

Scale design:

* Brute force broadcasts the (small) query set against the corpus — one
  scan of the big side, per-partition top-k via window, no corpus shuffle
  beyond the final (queries × k)-row aggregation. Exact, O(n·q·d).
* IVF: corpus is assigned once to its nearest centroid (scan-only), then
  each query probes ONLY its centroid's bucket — candidate count drops by
  ~n_centroids×. The assignment column is also the natural partition key
  for a pre-bucketed layout at 100 TB (bucketBy(centroid) → searches touch
  one bucket's files). Recall < 1.0 by construction; the brute-force twin
  is the oracle for measuring it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartpool_bigdata_spark.ops.relational import top_n_per_group


def spark_dot(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def spark_cosine(a: str, b: str) -> str:
    return (
        f"{spark_dot(a, b)} / (sqrt({spark_dot(a, a)}) * sqrt({spark_dot(b, b)}))"
    )


def as_double_array(df: DataFrame, col: str, out: str) -> DataFrame:
    """float32 embeddings → array<double> so fold arithmetic is stable."""
    return df.withColumn(out, F.expr(f"transform({col}, x -> cast(x as double))"))


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
    assume_normalized: bool = False,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × scan corpus → window top-k.

    Returns (query_id, neighbor_id, sim, rank). ``sim`` is rounded to 4
    decimals BEFORE ranking with an id tie-break, so the ranking is
    insensitive to last-ulp noise.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv")
    )
    if assume_normalized:
        joined = corpus.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col))
        sim_expr = spark_dot("__qv", vec_col)
    else:
        # Precompute each side's norm ONCE PER ROW instead of once per
        # pair: the pairwise work drops from 3 folds to 1 (measured 4× at
        # sf0.1). dot/(qnrm*nrm) is bit-identical to the inline cosine —
        # same fold, same multiply-then-divide grouping — so oracles and
        # rankings are unchanged.
        c = corpus.withColumn("__nrm", F.expr(f"sqrt({spark_dot(vec_col, vec_col)})"))
        q = q.withColumn("__qnrm", F.expr(f"sqrt({spark_dot('__qv', '__qv')})"))
        joined = c.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col))
        sim_expr = f"{spark_dot('__qv', vec_col)} / (__qnrm * __nrm)"
    sims = joined.select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        F.expr(f"round({sim_expr}, 4)").alias("sim"),
    )
    return top_n_per_group(
        sims,
        keys=[query_id_col],
        order_by=[F.col("sim").desc(), F.col("neighbor_id").asc()],
        n=k,
        method="row_number",
        rank_col="rank",
    )


# Banded random-hyperplane sign-LSH geometry (shared by the DataFrame op
# below and the dual-dialect expression generators in queries_vectors).
LSH_BANDS = 8
LSH_BITS = 16
LSH_QSCALE = 1_000_000


def lsh_band_weights(d: int, bands: int = LSH_BANDS, bits: int = LSH_BITS):
    """(bands·bits) × d int64 matrix of pseudo-random hyperplane weights:
    W[h][j-1] = ((m² mod p) · 2654435761) mod p − 501001 with
    m = h·131071 + j, p = 1000003, h = band·bits + row, 1-based j —
    EXACTLY the arithmetic the SQL expression twins emit
    (queries_vectors._w_expr), so signatures agree bit-for-bit. The
    quadratic mix matters: one affine mix followed by multiply-mod is
    separable into f(h)+g(j) mod p (degenerate, correlated planes); m²'s
    cross term decorrelates the planes."""
    import numpy as np

    h = np.arange(bands * bits, dtype=np.int64)
    j = np.arange(1, d + 1, dtype=np.int64)
    m = h[:, None] * 131071 + j[None, :]
    return ((m * m) % 1000003 * 2654435761) % 1000003 - 501001


def lsh_band_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    bands: int = LSH_BANDS,
    bits: int = LSH_BITS,
) -> DataFrame:
    """Per-vector band values for banded random-hyperplane sign-LSH:
    ``(id, bands: array<long>)`` with ``bands[b] = Σ_r sign_bit(b,r)·2^r``.

    The vector is quantized to int64 (floor(x·10⁶)) and the bands·bits
    sign tests are ONE int64 matrix multiply per Arrow batch — exact
    integer arithmetic, so the result is bit-identical to the interpreted
    SQL-expression formulation (pinned by a parity test) while running
    ~100× faster: 8×16 hyperplanes × d dims as interpreted Catalyst
    lambdas cost ~µs/row; the vectorized matmul costs ~ns/row. This is the
    Arrow-batched-Python-beats-interpreted-JVM case, same as multimodal.

    Scale: row-local map work (no shuffle); the weight matrix is built
    once per executor from (bands, bits, d) — nothing is broadcast.
    """
    schema = f"{id_col} long, bands array<long>"

    def gen(batches):
        import numpy as np
        import pandas as pd

        W = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            if W is None:
                W = lsh_band_weights(V.shape[1], bands, bits)
            Q = np.floor(V * float(LSH_QSCALE)).astype(np.int64)
            S = Q @ W.T  # n × (bands·bits), exact int64
            B = (S > 0).astype(np.int64).reshape(len(pdf), bands, bits)
            vals = (B << np.arange(bits, dtype=np.int64)[None, None, :]).sum(axis=2)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "bands": list(vals)}
            )

    return df.select(id_col, vec_col).mapInPandas(gen, schema=schema)


def kmeans_refine(
    corpus: DataFrame,
    seeds: DataFrame,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "v",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cv",
    scale: int = 6,
) -> DataFrame:
    """Lloyd-refine IVF seed centroids: assign → per-bucket element-wise
    mean, ``iters`` times. Returns the refined ``(centroid_id, cv)`` frame
    (ids are the previous iteration's bucket ids; empty buckets drop).

    Deterministic across engines/partitionings: the per-dimension mean is
    a decimal-stable aggregate (``stable_avg``) rounded to ``scale``, so
    the refined centroids — and everything downstream of them — carry a
    full value-hash oracle, unusual for an iterative float algorithm.

    Scale: each iteration is one assign (broadcast O(k·d)) + one explode
    to (bucket, dim, x) rows that PARTIALLY AGGREGATES map-side to
    ≤ k·d rows per partition before its shuffle — the classic distributed
    k-means step; centroids never exceed O(k·d) anywhere.
    """
    from smartpool_bigdata_spark.functions import stable_avg

    cents = seeds
    for _ in range(iters):
        assigned = assign_ivf_buckets(
            corpus, cents, id_col, vec_col, centroid_id_col, centroid_vec_col
        )
        exploded = assigned.select(
            "bucket", F.posexplode(F.col(vec_col)).alias("j", "x")
        )
        means = exploded.groupBy("bucket", "j").agg(
            stable_avg("x", scale).alias("m")
        )
        cents = (
            means.groupBy("bucket")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(j, m))), s -> s.m)"
                ).alias(centroid_vec_col)
            )
            .select(F.col("bucket").alias(centroid_id_col), centroid_vec_col)
        )
    return cents


def sample_fixed_k(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    salt: str = "c",
) -> DataFrame:
    """Deterministic FIXED-SIZE sample: the k rows with the smallest
    ``md5(salt || id)``. md5 ordering is uniform and engine-portable
    (lowercase hex in both Spark and DuckDB), so the same k rows come back
    at any scale factor and in the DuckDB oracle.

    This is the scale-correct way to pick IVF coarse centroids (or any
    broadcast-side set) from the corpus itself: the result is O(k) rows —
    independent of corpus size — so broadcasting it stays O(k·d) at 10⁹
    vectors, where a ``vec_id % m`` filter would grow O(n) and OOM the
    executors. Plans as TakeOrderedAndProject: one scan, per-partition
    top-k, no shuffle of the corpus. (Production IVF would k-means-refine
    these seeds; the sampling contract — fixed k, deterministic — is the
    same.)
    """
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return df.orderBy(key.asc()).limit(k)


def assign_ivf_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cv",
    assume_normalized: bool = False,
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (IVF coarse quantizer).

    One broadcast join + window argmax — scan-only over the corpus. The
    resulting ``bucket`` column is the IVF inverted-list key.
    """
    if assume_normalized:
        joined = corpus.crossJoin(F.broadcast(centroids))
        sim_expr = spark_dot(vec_col, centroid_vec_col)
    else:
        c = corpus.withColumn("__nrm", F.expr(f"sqrt({spark_dot(vec_col, vec_col)})"))
        cents = centroids.withColumn(
            "__cnrm", F.expr(f"sqrt({spark_dot(centroid_vec_col, centroid_vec_col)})")
        )
        joined = c.crossJoin(F.broadcast(cents))
        sim_expr = f"{spark_dot(vec_col, centroid_vec_col)} / (__nrm * __cnrm)"
    scored = joined.select(
        id_col,
        vec_col,
        F.col(centroid_id_col).alias("bucket"),
        F.expr(f"round({sim_expr}, 4)").alias("__csim"),
    )
    best = top_n_per_group(
        scored,
        keys=[id_col],
        order_by=[F.col("__csim").desc(), F.col("bucket").asc()],
        n=1,
        method="row_number",
    )
    return best.select(id_col, vec_col, "bucket")


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    subspaces: int = 4,
    subdim: int = 16,
) -> DataFrame:
    """Product-quantization encode: slice each vector into ``subspaces``
    blocks and pick the max-similarity code per block via the
    ``2a·b − b·b`` argmin-L2² form (``a·a`` constant per row), rounded to
    4dp with code-asc tie-break so the assignment is ulp-noise-proof and
    engine-portable. ``codebook`` is ``(sub, code, csub)``. Returns one
    ``(id, sub, code)`` row per block — the 64×-compressed serving-side
    state of a PQ/IVF-PQ index.

    Scale: one posexplode scan (×subspaces rows), codebook broadcast
    O(subspaces·codes·subdim), argmax via ``max_by`` hash agg with
    map-side partial combine — no window sort, no shuffle beyond the
    (id, sub) agg. Shared by the batch queries (knn_pq_adc shape) and
    the streaming encode maintenance loop (start_pq_encode).
    """
    slices = ", ".join(
        f"slice({vec_col}, {subdim * s + 1}, {subdim})"
        for s in range(subspaces)
    )
    subvecs = df.select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({slices})")).alias("sub", "sv"),
    )
    escore = subvecs.join(F.broadcast(codebook), "sub").select(
        id_col,
        "sub",
        "code",
        F.expr(
            f"round(2 * {spark_dot('sv', 'csub')} - {spark_dot('csub', 'csub')}, 4)"
        ).alias("sc"),
    )
    return escore.groupBy(id_col, "sub").agg(
        F.expr("max_by(code, struct(sc, -code))").alias("code")
    )


def semdedup_prune(
    assigned: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "v",
    bucket_col: str = "bucket",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup's within-cluster prune (Abbas et al. 2023): among every
    same-cluster pair with cosine >= ``threshold``, the later-id member
    is pruned. Returns the distinct pruned ids. The k-means clustering IS
    the blocking — candidate pairs are bounded by cluster size, never a
    global all-pairs.

    Hot-cluster guard (``max_cluster_size``): cluster sizes follow the
    data's density, and at 100 TB one semantically-dense region (near-
    empty documents, boilerplate imagery) can concentrate millions of
    members in one cluster, making its within-cluster pair join
    quadratic — the skew twin of the salted-top-N problem. With the cap
    set, members of clusters ABOVE the cap are sub-blocked by one
    16-bit sign-LSH band (the same hyperplane arithmetic as the
    embedding near-dup family — row-local Arrow matmul, no shuffle)
    before pairing, so per-task pair counts are bounded by the
    sub-block sizes (~size/2^16 expected). EXACT duplicates always
    share a band (identical vectors -> identical signs), so dup recall
    on the pairs that matter most survives the guard; borderline
    near-dup pairs straddling a hyperplane inside a giant cluster may
    be missed — the disclosed recall trade, mirrored from the banded
    MinHash-LSH contract. Clusters at or under the cap pair exactly as
    before (sub-key 0), so the guard is a strict no-op until skew
    actually appears. Skew-tested with a planted giant cluster in
    tests/test_vector_ops.py.
    """
    df = assigned
    if max_cluster_size is not None:
        sizes = assigned.groupBy(bucket_col).agg(
            F.count(F.lit(1)).alias("__csz")
        )
        sigs = lsh_band_signatures(
            assigned, id_col=id_col, vec_col=vec_col, bands=1, bits=16
        ).select(id_col, F.expr("bands[0]").alias("__band0"))
        df = (
            assigned.join(F.broadcast(sizes), bucket_col)
            .join(sigs, id_col)
            .withColumn(
                "__sub",
                F.when(
                    F.col("__csz") > max_cluster_size, F.col("__band0")
                ).otherwise(F.lit(0)).cast("long"),
            )
        )
    else:
        df = assigned.withColumn("__sub", F.lit(0).cast("long"))
    pa = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        bucket_col, "__sub",
    )
    pb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        bucket_col, "__sub",
    )
    return (
        pa.join(pb, [bucket_col, "__sub"])
        .filter(F.col("id_a") > F.col("id_b"))
        .filter(F.expr(f"round({spark_cosine('va', 'vb')}, 4) >= {threshold}"))
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )


def covariance_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    ddof: int = 1,
) -> DataFrame:
    """Upper-triangle sample covariance of an embedding column:
    (i, j, cov) rows for 1 <= i <= j <= d, 1-indexed, computed as
    partial centered X^T X per Arrow batch via ``mapInPandas``.

    Shape: (1) the per-dimension means ride in as a d-double closure
    constant (one decimal-stable agg + collect — driver-side scalars,
    like a watermark); (2) each Arrow batch contributes ONE d x d
    partial ``(X - mu)^T (X - mu)`` (a float64 BLAS matmul), emitted as
    d(d+1)/2 rows per PARTITION, not per input row; (3) one tiny
    (i, j)-keyed reduce (partitions x 2080 rows at d=64) finishes the
    sum decimal-stably. An in-row d^2/2 fan-out would emit rows x 8.4M
    products at d=4096 where this emits partitions x 8.4M — the
    difference between a 100 TB shuffle and a few GB one (and 0.55 vs
    1.45 s already at d=64/sf0.1, PERF.md). Centering by the true means
    keeps the per-batch float64 sums cancellation-free, so the result
    agrees with an exact decimal fold to ~1e-12 relative (locked
    against numpy in tests/test_vector_ops.py); within-batch float
    association is the only nondeterminism, bounded far below the 6
    decimals any consumer (and the DuckDB oracle) rounds to.

    Fail-loud: ragged vectors or null elements raise instead of
    silently biasing the sums (unequal per-position counts are caught
    by the means pass, anything else inside the batch function), and
    n <= ddof raises before any cluster work, since dividing by
    n - ddof would emit Infinity rows that poison ``pca_components``
    with NaNs.
    """
    import numpy as np
    import pandas as pd

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    ex = df.select(F.posexplode(vec_col).alias("i0", "x"))
    mrows = ex.groupBy("i0").agg(
        (F.sum(F.col("x").cast("double").cast("decimal(38,10)")).cast("double")
         / F.count("x")).alias("m"),
        F.count("x").alias("cnt"),
    ).collect()
    if len(mrows) != dim or any(r["cnt"] != mrows[0]["cnt"] for r in mrows):
        raise ValueError(
            f"covariance_matrix needs uniform {vec_col} length {dim}: "
            f"got {len(mrows)} distinct positions with per-position counts "
            f"{sorted({r['cnt'] for r in mrows})}"
        )
    n = mrows[0]["cnt"]
    if n <= ddof:
        raise ValueError(
            f"covariance_matrix needs more than ddof={ddof} rows, got {n}"
        )
    mu_list = [0.0] * dim
    for r in mrows:
        mu_list[r["i0"]] = float(r["m"])
    d = dim

    def partials(it):
        mu = np.asarray(mu_list, dtype=np.float64)
        pn = 0
        S = np.zeros((d, d), dtype=np.float64)
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            if X.ndim != 2 or X.shape[1] != d:
                raise ValueError(
                    f"covariance_matrix needs uniform length-{d} "
                    f"vectors, got batch shape {X.shape}"
                )
            if np.isnan(X).any():
                raise ValueError(
                    "covariance_matrix: null/NaN element in "
                    f"'{vec_col}'"
                )
            pn += X.shape[0]
            Xc = X - mu
            S += Xc.T @ Xc
        if pn:
            iu = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int32"),
                    "j": (iu[1] + 1).astype("int32"),
                    "pv": S[iu],
                }
            )

    part = df.select(vec_col).mapInPandas(partials, schema="i int, j int, pv double")
    return part.groupBy("i", "j").agg(
        (F.sum(F.col("pv").cast("decimal(38,10)")).cast("double")
         / F.lit(n - ddof)).alias("cov")
    )


def pca_components(
    df: DataFrame, vec_col: str = "embedding", k: int = 8, dim: int | None = None
):
    """Top-k principal components of the embedding distribution.

    The covariance matrix is computed DISTRIBUTED (``covariance_matrix``),
    then collected — d x d scalars, 32 KiB at d=64, a driver-side
    constant like a watermark, NOT per-row data — and eigendecomposed
    with numpy on the driver. Returns (components, eigenvalues):
    components is a k x d list-of-lists (rows orthonormal, descending
    eigenvalue), ready to broadcast into ``pca_project``. The classic
    Spark linear-algebra split: O(n) work in the cluster, O(d^2) work on
    the driver.

    Determinism note: eigenvectors are sign-ambiguous; each component is
    canonicalized so its largest-magnitude entry is positive.
    """
    import numpy as np

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    cov = np.zeros((dim, dim))
    for r in covariance_matrix(df, vec_col, dim).collect():
        cov[r["i"] - 1, r["j"] - 1] = r["cov"]
        cov[r["j"] - 1, r["i"] - 1] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return comps, [float(vals[i]) for i in order]


def pca_project(
    df: DataFrame,
    components: list,
    vec_col: str = "embedding",
    out_col: str = "projected",
    eigenvalues: list | None = None,
) -> DataFrame:
    """Project embeddings onto PCA components (optionally whitening by
    1/sqrt(eigenvalue)) — a scan-only map, the components ride along as a
    plan literal (k x d doubles), no shuffle, no UDF: the projection is a
    zip_with/aggregate fold per component, inside codegen."""
    k = len(components)
    scale = (
        [1.0 / (ev ** 0.5) if ev > 0 else 0.0 for ev in eigenvalues]
        if eigenvalues is not None
        else [1.0] * k
    )
    comp_lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in comp) + ")"
            for comp in components
        )
        + ")"
    )
    scale_lit = "array(" + ", ".join(f"{s!r}D" for s in scale) + ")"
    return df.withColumn(
        out_col,
        F.expr(
            f"transform(sequence(1, {k}), c -> "
            f"element_at({scale_lit}, c) * "
            f"aggregate(zip_with(element_at({comp_lit}, c), {vec_col}, "
            f"(w, x) -> w * cast(x as double)), 0D, (acc, v) -> acc + v))"
        ),
    )


def dbscan_2d(
    points: DataFrame,
    id_col: str,
    x: str,
    y: str,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """Exact 2-D DBSCAN via GRID-CELL candidate generation — the
    density-based clustering that k-means-family methods can't express
    (arbitrary-shape clusters, explicit noise). Returns one row per
    point: (id, role in {'core','border','noise'}, component — the min
    core id of its cluster, -1 for noise).

    Semantics (all deterministic, hence SQL-oracle-lockable):
    * |N_eps(p)| counts p itself (the standard definition);
      core <=> |N_eps| >= min_pts.
    * clusters = connected components of the core-core eps-graph; a
      core with no core neighbor is its own singleton cluster.
    * border = non-core within eps of >= 1 core, assigned to the MIN
      component among its core neighbors (classic DBSCAN leaves border
      assignment scan-order-dependent; min makes it a pure function).

    Scale: the O(n²) neighbor search becomes an EQUI-join on grid
    cells of side eps — each point probes its 9-cell neighborhood
    (explode on the probe side only, so each ordered pair appears
    exactly once) with the exact distance as a residual, the same
    bucketize-then-residual rewrite as interval_point_join. Cost is
    pairs-within-3x3-cells, i.e. data-density-bounded, never n²;
    counts and roles are hash aggregates; clustering reuses
    connected_components. For skewed density, shrink eps or pre-cap
    cells like the SemDeDup hot-cluster guard.
    """
    from smartpool_bigdata_spark.ops.graph import connected_components

    eps2 = eps * eps
    pts = points.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(x).cast("double").alias("x"),
        F.col(y).cast("double").alias("y"),
    ).localCheckpoint(eager=True)  # consumed by probe, build, and roles
    cx = F.floor(F.col("x") / F.lit(eps))
    cy = F.floor(F.col("y") / F.lit(eps))
    probe = pts.select(
        "id", "x", "y",
        F.explode(
            F.array(*[F.lit(d) for d in range(-1, 2)])
        ).alias("dx"),
        cx.alias("cx0"), cy.alias("cy0"),
    ).select(
        "id", "x", "y",
        (F.col("cx0") + F.col("dx")).alias("gx"),
        F.explode(F.array(*[F.lit(d) for d in range(-1, 2)])).alias("dy"),
        F.col("cy0").alias("cy0"),
    ).select(
        "id", "x", "y", "gx", (F.col("cy0") + F.col("dy")).alias("gy")
    )
    build = pts.select(
        F.col("id").alias("ib"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        cx.alias("gx"),
        cy.alias("gy"),
    )
    # plain multiplies, NOT pow(): libm pow differs across engines in
    # the last ulp; (a-b)*(a-b) is the same IEEE op in both
    d2 = (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb")) + (
        F.col("y") - F.col("yb")
    ) * (F.col("y") - F.col("yb"))
    prs = (
        probe.join(build.hint("shuffle_hash"), ["gx", "gy"])
        .where((F.col("id") != F.col("ib")) & (d2 <= F.lit(eps2)))
        .select(F.col("id").alias("ia"), "ib")
        .localCheckpoint(eager=True)  # feeds counts, edges, and borders
    )
    cnt = prs.groupBy(F.col("ia").alias("id")).agg(
        (F.count(F.lit(1)) + 1).alias("n")
    )
    roles = pts.join(cnt.hint("shuffle_hash"), "id", "left").select(
        "id", (F.coalesce("n", F.lit(1)) >= min_pts).alias("is_core")
    ).localCheckpoint(eager=True)
    core_ids = roles.filter("is_core").select("id")
    cedges = (
        prs.join(
            core_ids.hint("shuffle_hash"), prs["ia"] == core_ids["id"],
            "left_semi",
        )
        .join(
            core_ids.hint("shuffle_hash"), prs["ib"] == core_ids["id"],
            "left_semi",
        )
        .filter(F.col("ia") < F.col("ib"))
    )
    cc = connected_components(cedges, src="ia", dst="ib")
    core_comp = core_ids.join(
        cc.hint("shuffle_hash"), core_ids["id"] == cc["node"], "left"
    ).select("id", F.coalesce("component", "id").alias("component"))
    border = (
        prs.join(
            roles.filter(~F.col("is_core")).select("id").hint("shuffle_hash"),
            prs["ia"] == F.col("id"),
            "left_semi",
        )
        .join(
            core_comp.select(
                F.col("id").alias("ib"), F.col("component").alias("bc")
            ).hint("shuffle_hash"),
            "ib",
        )
        .groupBy("ia")
        .agg(F.min("bc").alias("component"))
        .select(F.col("ia").alias("id"), "component")
    )
    out_core = core_comp.select(
        "id", F.lit("core").alias("role"), "component"
    )
    out_border = border.select(
        "id", F.lit("border").alias("role"), "component"
    )
    assigned = out_core.unionByName(out_border)
    out_noise = (
        pts.select("id")
        .join(assigned.select("id").hint("shuffle_hash"), "id", "left_anti")
        .select(
            "id",
            F.lit("noise").alias("role"),
            F.lit(-1).cast("long").alias("component"),
        )
    )
    return assigned.unionByName(out_noise)
