"""Unit tests for ops/vectors.py — exact knn on hand-computable vectors,
IVF assignment, and IVF recall measured against the brute-force oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from smartpool_bigdata_spark.ops.vectors import (
    assign_ivf_buckets,
    brute_force_knn,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (4, [0.1, 0.9]),
        (5, [-1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "v"])


def test_brute_force_knn_exact(corpus):
    qs = corpus.filter("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), "v"
    )
    out = brute_force_knn(corpus, qs, k=2)
    rows = {r["rank"]: r for r in out.collect()}
    assert rows[1]["neighbor_id"] == 2  # cos ~0.9939
    assert rows[1]["sim"] == round(0.9 / math.sqrt(0.81 + 0.01), 4)
    assert rows[2]["neighbor_id"] == 4  # cos ~0.1104 beats 3 (0.0) and 5 (-1)
    assert len(rows) == 2


def test_knn_excludes_self(corpus):
    qs = corpus.select(F.col("vec_id").alias("query_id"), "v")
    out = brute_force_knn(corpus, qs, k=4)
    assert out.filter("query_id = neighbor_id").count() == 0


def test_ivf_assignment(corpus):
    cents = corpus.filter("vec_id in (1, 3)").select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    buckets = {r["vec_id"]: r["bucket"] for r in assign_ivf_buckets(corpus, cents).collect()}
    assert buckets[1] == 1 and buckets[2] == 1
    assert buckets[3] == 3 and buckets[4] == 3
    # -x axis: equidistant-ish, cos(-1,0 vs 1,0)=-1, vs (0,1)=0 -> bucket 3
    assert buckets[5] == 3


def test_ivf_recall_vs_brute_force(spark):
    # 40 deterministic 4-d vectors; IVF with 4 centroids must recall the
    # top-1 neighbor for most queries (same-bucket neighbors dominate).
    import itertools

    rows = []
    for i, (a, b) in enumerate(itertools.product(range(1, 6), range(1, 9))):
        rows.append((i, [float(a), float(b), float((a * b) % 7), 1.0]))
    corpus = spark.createDataFrame(rows, ["vec_id", "v"])
    cents = corpus.filter("vec_id % 10 = 0").select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    assigned = assign_ivf_buckets(corpus, cents)
    qs = corpus.filter("vec_id % 7 = 0").select(
        F.col("vec_id").alias("query_id"), "v"
    )
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_knn(corpus, qs, k=1).collect()
    }
    # probe only own bucket
    q_assigned = assigned.join(
        qs.select("query_id"), assigned["vec_id"] == F.col("query_id")
    ).select("query_id", F.col("bucket").alias("qb"))
    from smartpool_bigdata_spark.ops.vectors import spark_cosine
    cand = assigned.join(q_assigned, assigned["bucket"] == F.col("qb")).filter(
        "vec_id != query_id"
    )
    qv = qs.select(F.col("query_id").alias("qid"), F.col("v").alias("qv"))
    sims = cand.join(qv, cand["query_id"] == F.col("qid")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(f"round({spark_cosine('qv', 'v')}, 4)").alias("sim"),
    )
    from smartpool_bigdata_spark.ops.relational import top_n_per_group

    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in top_n_per_group(
            sims, ["query_id"], [F.col("sim").desc(), F.col("neighbor_id").asc()], 1
        ).collect()
    }
    hits = sum(1 for q in exact if approx.get(q) == exact[q])
    assert hits / len(exact) >= 0.5  # bucketed recall is imperfect but real


def test_multiprobe_recall_improves(spark):
    """nprobe=2 recall@5 vs the exact baseline must be >= nprobe=1 recall."""
    from smartpool_bigdata_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    exact = {}
    for r in REGISTRY["knn_brute_force"].build(spark, sf).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(name):
        got = {}
        for r in REGISTRY[name].build(spark, sf).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(v) for v in exact.values())
        return hits / total

    r1, r2 = recall("knn_ivf"), recall("knn_ivf_multiprobe")
    assert r2 >= r1
    assert r2 > 0.2  # non-vacuous


def test_ivf_partitioned_layout_prunes(spark, tmp_path):
    """The 100 TB IVF layout: corpus written partitionBy(bucket); a probe
    of one bucket shows PartitionFilters in the scan — the search reads
    ONE bucket's files, not the corpus."""
    from smartpool_bigdata_spark.ops.vectors import as_double_array

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = as_double_array(emb, "embedding", "v").select("vec_id", "v")
    cents = corpus.filter(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    assigned = assign_ivf_buckets(corpus, cents)
    layout = str(tmp_path / "ivf_layout")
    assigned.write.partitionBy("bucket").parquet(layout)

    table = spark.read.parquet(layout)
    probe = table.filter(F.col("bucket") == 3)
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # pruned scan must list fewer files than the table has buckets
    n_buckets = assigned.select("bucket").distinct().count()
    assert n_buckets > 1
    assert probe.count() == assigned.filter("bucket = 3").count()


def test_sample_fixed_k_is_constant_size_and_deterministic(spark):
    """Centroid/query samples must be k rows at ANY corpus size (the
    broadcast-side contract) and identical across runs and partitionings."""
    from smartpool_bigdata_spark.ops.vectors import as_double_array, sample_fixed_k

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = as_double_array(emb, "embedding", "v").select("vec_id", "v")
    s1 = sorted(r["vec_id"] for r in sample_fixed_k(corpus, 16, salt="c").collect())
    s2 = sorted(
        r["vec_id"]
        for r in sample_fixed_k(corpus.repartition(7), 16, salt="c").collect()
    )
    assert len(s1) == 16 and s1 == s2
    # different salt -> different (query vs centroid) sample
    sq = sorted(r["vec_id"] for r in sample_fixed_k(corpus, 16, salt="q").collect())
    assert sq != s1
    # plans as a global top-k, not a full sort/shuffle of the corpus
    plan = sample_fixed_k(corpus, 16, salt="c")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_embedding_lsh_recall_of_planted_duplicates(spark):
    """Banded random-hyperplane LSH must find EVERY planted exact
    duplicate (identical vectors quantize identically in all bands) and
    nothing with cosine < 0.99."""
    from smartpool_bigdata_spark.queries import REGISTRY

    rows = REGISTRY["embedding_near_dup"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    pairs = {(r["vec_a"], r["vec_b"]): r["sim"] for r in rows}
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planted_ids = [
        r["vec_id"] for r in emb.filter("vec_id % 10 = 1").select("vec_id").collect()
    ]
    for vid in planted_ids:
        assert pairs.get((vid, vid + 1_000_000)) == 1.0, f"lost planted dup {vid}"
    assert all(s >= 0.99 for s in pairs.values())


def test_lsh_matmul_matches_expression_form(spark):
    """The vectorized int64-matmul band signatures must be BIT-IDENTICAL
    to the interpreted SQL-expression formulation (the DuckDB oracle's
    algebra) — integer arithmetic end-to-end, so exact equality, not
    tolerance."""
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.ops.vectors import as_double_array, lsh_band_signatures
    from smartpool_bigdata_spark.queries_vectors import _QSCALE, _spark_band_vals

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = as_double_array(emb, "embedding", "v").select("vec_id", "v")
    fast = {
        r["vec_id"]: list(r["bands"])
        for r in lsh_band_signatures(corpus, "vec_id", "v").collect()
    }
    quant = corpus.select(
        "vec_id",
        F.expr(f"transform(v, x -> cast(floor(x * {_QSCALE}) as bigint))").alias("__q"),
    )
    slow = {
        r["vec_id"]: list(r["b"])
        for r in quant.select(
            "vec_id", F.expr(_spark_band_vals("__q")).alias("b")
        ).collect()
    }
    assert fast == slow


def test_lsh_hyperplanes_are_not_degenerate(spark):
    """Regression for the affine-mix weight bug: with W separable in
    (plane, dim) — e.g. a stride equal to the modulus — every plane is the
    SAME hyperplane, each band collapses to 2 buckets and the candidate
    join goes quadratic (~n²/4). Assert planes are distinct and buckets
    spread: max bucket far below n/2, and per-plane sign bits balanced."""
    import numpy as np

    from smartpool_bigdata_spark.ops.vectors import (
        as_double_array,
        lsh_band_signatures,
        lsh_band_weights,
    )

    W = lsh_band_weights(64)
    assert len({tuple(row) for row in W.tolist()}) == len(W)  # distinct planes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = as_double_array(emb, "embedding", "v").select("vec_id", "v")
    sigs = lsh_band_signatures(corpus, "vec_id", "v").collect()
    n = len(sigs)
    vals = np.array([r["bands"] for r in sigs])  # n × bands
    for b in range(vals.shape[1]):
        _, cnt = np.unique(vals[:, b], return_counts=True)
        assert cnt.max() < n / 8, f"band {b}: hot bucket of {cnt.max()}/{n}"


def test_kmeans_refined_ivf_recall(spark):
    """One Lloyd step must keep the probe useful: recall@5 vs the exact
    baseline stays non-vacuous and within slack of the seed-centroid IVF
    (refinement moves centroids toward bucket means — it must not
    collapse the index)."""
    from smartpool_bigdata_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    exact = {}
    for r in REGISTRY["knn_brute_force"].build(spark, sf).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(name):
        got = {}
        for r in REGISTRY[name].build(spark, sf).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    seed, refined = recall("knn_ivf"), recall("knn_ivf_kmeans")
    assert refined > 0.2
    assert refined >= seed - 0.2, (seed, refined)


def test_kmeans_refine_deterministic_across_partitionings(spark):
    """The decimal-stable per-dimension means make refined centroids
    IDENTICAL under any input partitioning — the property that lets an
    iterative float algorithm carry a value-hash oracle."""
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.ops.vectors import (
        as_double_array,
        kmeans_refine,
        sample_fixed_k,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = as_double_array(emb, "embedding", "v").select("vec_id", "v")
    seeds = sample_fixed_k(corpus, 8, salt="c").select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    a = {
        r["centroid_id"]: list(r["cv"])
        for r in kmeans_refine(corpus, seeds, iters=1).collect()
    }
    b = {
        r["centroid_id"]: list(r["cv"])
        for r in kmeans_refine(corpus.repartition(7), seeds, iters=1).collect()
    }
    assert a == b


def test_pq_encoding_structure_and_adc_sanity(spark):
    """PQ result-shape invariants (exact values are pinned by the DuckDB
    oracle): each query emits a dense 1..3 ranking, and every per-subspace
    codebook is a fixed-size subset of the corpus — the property that
    keeps the broadcast O(codes·d) at any scale."""
    from smartpool_bigdata_spark.queries import REGISTRY
    from smartpool_bigdata_spark.queries_vectors import (
        PQ_CODES,
        PQ_SUBSPACES,
    )

    out = REGISTRY["knn_pq_adc"].build(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    # 8 queries × top-3, ranks are 1..3 per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    assert all(len(v) == 3 for v in by_q.values())

    # structural invariants of the encode stage
    from smartpool_bigdata_spark.ops.vectors import as_double_array, sample_fixed_k

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = as_double_array(emb, "embedding", "v").select("vec_id", "v")
    n = corpus.count()
    codebook_ids = {
        s: {r["vec_id"] for r in sample_fixed_k(corpus, PQ_CODES, salt=f"pq{s}").collect()}
        for s in range(PQ_SUBSPACES)
    }
    assert all(len(ids) == PQ_CODES for ids in codebook_ids.values())
    corpus_ids = {r["vec_id"] for r in corpus.select("vec_id").collect()}
    assert all(ids <= corpus_ids for ids in codebook_ids.values())
    assert n >= PQ_CODES


def test_pca_components_recover_known_direction(spark):
    """2-D sanity: points spread along (1,1)/sqrt(2) with tiny noise on
    the orthogonal axis -> first component is that direction, variance
    ordering and orthonormality hold."""
    import math

    from smartpool_bigdata_spark.ops.vectors import pca_components

    rows = []
    for t in range(-10, 11):
        noise = ((t * 7919) % 5 - 2) / 100.0  # deterministic tiny noise
        rows.append((t + 10, [t / math.sqrt(2) - noise, t / math.sqrt(2) + noise]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    comps, vals = pca_components(df, "embedding", k=2, dim=2)
    assert vals[0] > vals[1] > 0
    c0 = comps[0]
    assert abs(abs(c0[0]) - 1 / math.sqrt(2)) < 0.01
    assert abs(c0[0] - c0[1]) < 0.02  # aligned with (1,1)
    # orthonormal
    dot = sum(a * b for a, b in zip(comps[0], comps[1]))
    assert abs(dot) < 1e-9
    for c in comps:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9


def test_pca_project_whitens_real_embeddings(spark):
    """On the embeddings table: projecting onto the top-k components
    yields (a) per-component variances equal to the eigenvalues in
    descending order, (b) ~zero cross-covariance, and with whitening
    (c) unit variances — the invariants that make the projection usable
    for semantic-dedup thresholds."""
    import numpy as np

    from smartpool_bigdata_spark.ops.vectors import pca_components, pca_project

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    comps, vals = pca_components(emb, "embedding", k=4)
    proj = np.array(
        [r["projected"] for r in pca_project(emb, comps, "embedding").collect()]
    )
    cov = np.cov(proj, rowvar=False, ddof=1)
    assert np.allclose(np.diag(cov), vals, rtol=1e-6)
    off = cov - np.diag(np.diag(cov))
    assert np.max(np.abs(off)) < 1e-6 * max(vals)
    white = np.array(
        [
            r["projected"]
            for r in pca_project(emb, comps, "embedding", eigenvalues=vals).collect()
        ]
    )
    wcov = np.cov(white, rowvar=False, ddof=1)
    assert np.allclose(np.diag(wcov), 1.0, rtol=1e-6)


def test_covariance_rejects_degenerate_row_count(spark):
    """n <= ddof would divide by zero and emit Infinity rows that poison
    pca_components with NaNs — must raise instead."""
    import pytest as _pytest

    from smartpool_bigdata_spark.ops.vectors import covariance_matrix

    one = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id int, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="more than ddof"):
        covariance_matrix(one, "embedding", dim=2)


def test_covariance_rejects_ragged_and_null_vectors(spark):
    """ADVICE r4: a ragged array or null element used to drop out of the
    sums while the denominator stayed global n - ddof, silently biasing
    the output. It must fail loudly instead."""
    import pytest as _pytest

    from smartpool_bigdata_spark.ops.vectors import covariance_matrix

    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0]), (2, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    withnull = spark.createDataFrame(
        [(0, [1.0, None]), (1, [1.0, 2.0]), (2, [3.0, 4.0])],
        "vec_id int, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="uniform"):
        covariance_matrix(ragged, "embedding", dim=2)
    with _pytest.raises(ValueError, match="uniform|null"):
        covariance_matrix(withnull, "embedding", dim=2)


def test_covariance_matches_numpy_at_d64(spark):
    """covariance_matrix (mapInPandas centered partial X^T X per Arrow
    batch) agrees with numpy's np.cov at d=64 on real embeddings — and
    stays put under a different partitioning, since the only
    float-association freedom is within-batch and centered sums are
    cancellation-free."""
    import numpy as np

    from smartpool_bigdata_spark.ops.vectors import covariance_matrix

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = np.cov(
        np.array([r["embedding"] for r in emb.select("embedding").collect()],
                 dtype=np.float64),
        rowvar=False,
        ddof=1,
    )
    for df in (emb, emb.repartition(7)):
        got = {
            (r["i"], r["j"]): r["cov"]
            for r in covariance_matrix(df, "embedding", dim=64).collect()
        }
        assert len(got) == 64 * 65 // 2
        worst = max(
            abs(c - want[i - 1, j - 1]) / max(1.0, abs(want[i - 1, j - 1]))
            for (i, j), c in got.items()
        )
        assert worst < 1e-9, worst


def test_semdedup_hot_cluster_guard(spark):
    """The SemDeDup within-cluster prune is bounded by cluster size; a
    planted GIANT cluster (every vector forced into bucket 0) must (a)
    still catch every planted exact duplicate under the sub-blocking
    guard — identical vectors share their sign-LSH band by construction
    — and (b) actually bound the pair join: the largest sub-block must
    be far below the full cluster, so no task goes quadratic in the
    cluster. The salted-top-N pattern's skew fix, applied to semantic
    dedup."""
    from smartpool_bigdata_spark.ops.vectors import (
        as_double_array,
        lsh_band_signatures,
        semdedup_prune,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = as_double_array(emb, "embedding", "v").select("vec_id", "v")
    dups = corpus.filter(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    # degenerate assignment: one giant cluster holding everything
    giant = corpus.union(dups).withColumn("bucket", F.lit(0))
    n = giant.count()
    n_dups = dups.count()

    pruned = semdedup_prune(giant, threshold=0.99, max_cluster_size=50)
    got = {r["vec_id"] for r in pruned.collect()}
    # every planted exact duplicate (the later id of each identical pair)
    # is pruned even under sub-blocking
    want_dups = {r["vec_id"] for r in dups.select("vec_id").collect()}
    assert want_dups <= got
    assert len(want_dups) == n_dups > 0

    # the guard genuinely splits the cluster: the largest sign-LSH
    # sub-block is a small fraction of the giant cluster
    sizes = (
        lsh_band_signatures(giant, bands=1, bits=16)
        .groupBy(F.expr("bands[0]"))
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    assert sizes < n * 0.2, f"largest sub-block {sizes} of {n}"

    # strict no-op below the cap: a normal multi-cluster assignment gives
    # identical prune sets with and without the guard
    normal = corpus.union(dups).withColumn(
        "bucket", (F.col("vec_id") % 7).cast("long")
    )
    with_guard = {
        r["vec_id"]
        for r in semdedup_prune(normal, max_cluster_size=10_000).collect()
    }
    without = {r["vec_id"] for r in semdedup_prune(normal).collect()}
    assert with_guard == without


def test_pq_encode_partitioning_invariant(spark):
    """pq_encode's argmax (max_by over rounded scores with code
    tie-break) must be deterministic under ANY physical partitioning —
    the property that lets the streaming encode MERGE be idempotent on
    replay."""
    from smartpool_bigdata_spark.ops.vectors import (
        as_double_array,
        pq_encode,
        sample_fixed_k,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = as_double_array(emb, "embedding", "v").select("vec_id", "v")
    cb_parts = []
    for s in range(4):
        cb_parts.append(
            sample_fixed_k(corpus, 16, salt=f"pq{s}").select(
                F.lit(s).alias("sub"),
                F.col("vec_id").alias("code"),
                F.expr(f"slice(v, {16 * s + 1}, 16)").alias("csub"),
            )
        )
    cb = cb_parts[0]
    for p in cb_parts[1:]:
        cb = cb.union(p)
    cb = cb.localCheckpoint(eager=True)
    a = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in pq_encode(corpus.repartition(1), cb).collect()
    }
    b = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in pq_encode(corpus.repartition(13), cb).collect()
    }
    assert a == b and len(a) == corpus.count() * 4
