"""Property-based tests (hypothesis) for core operator semantics, checked
against independent pure-Python models on randomized inputs."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

BASE = dt.datetime(2024, 1, 1)


def _events(draw_minutes):
    return [(k, BASE + dt.timedelta(minutes=m)) for k, m in draw_minutes]


ev_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=1, max_size=40
)

SETTINGS = dict(max_examples=5, deadline=None)


@settings(**SETTINGS)
@given(ev_strategy)
def test_sessionize_matches_model(spark, pairs):
    from smartpool_bigdata_spark.ops.relational import sessionize

    rows = _events(pairs)
    df = spark.createDataFrame(rows, ["k", "ts"])
    got = {
        (r["k"], r["ts"]): r["session_id"]
        for r in sessionize(df, ["k"], "ts", gap="10 minutes").collect()
    }
    # model: sort per key, increment on gap > 10 min
    want = {}
    by_key: dict[int, list[dt.datetime]] = {}
    for k, ts in rows:
        by_key.setdefault(k, []).append(ts)
    for k, tss in by_key.items():
        sid = -1
        prev = None
        for ts in sorted(tss):
            if prev is None or (ts - prev) > dt.timedelta(minutes=10):
                sid += 1
            want[(k, ts)] = sid
            prev = ts
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 200)), min_size=1, max_size=25),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 200), st.floats(0, 100)),
        min_size=0,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
def test_asof_join_matches_model(spark, left_pairs, right_rows):
    from smartpool_bigdata_spark.ops.relational import asof_join

    left = [
        (k, BASE + dt.timedelta(minutes=m), i)
        for i, (k, m) in enumerate(left_pairs)
    ]
    right = [
        (k, BASE + dt.timedelta(minutes=m), round(v, 3))
        for k, m, v in right_rows
    ]
    ldf = spark.createDataFrame(left, ["k", "ts", "id"])
    rdf = spark.createDataFrame(right, ["k", "rts", "price"]) if right else (
        spark.createDataFrame([], "k INT, rts TIMESTAMP, price DOUBLE")
    )
    got = {
        r["id"]: r["price"]
        for r in asof_join(
            ldf, rdf, keys=["k"], left_ts="ts", right_ts="rts", value_cols=["price"]
        ).collect()
    }
    want = {}
    for k, ts, i in left:
        candidates = [(rts, v) for (rk, rts, v) in right if rk == k and rts <= ts]
        want[i] = max(candidates)[1] if candidates else None
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=50), st.integers(1, 8))
def test_stable_sum_partition_invariant(spark, values, parts):
    from smartpool_bigdata_spark.functions import stable_sum

    df = spark.createDataFrame([(v,) for v in values], ["x"])
    a = df.repartition(parts).agg(stable_sum("x", 6).alias("s")).collect()[0]["s"]
    b = df.coalesce(1).agg(stable_sum("x", 6).alias("s")).collect()[0]["s"]
    assert a == b  # bit-identical regardless of partitioning


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[2],
    )
)
def test_latest_by_key_matches_model(spark, rows):
    from smartpool_bigdata_spark.ops.relational import latest_by_key

    data = [(k, BASE + dt.timedelta(minutes=m), i) for k, m, i in rows]
    df = spark.createDataFrame(data, ["k", "ts", "id"])
    got = {
        r["k"]: (r["ts"], r["id"])
        for r in latest_by_key(
            df, ["k"], [F.col("ts").desc(), F.col("id").desc()]
        ).collect()
    }
    want = {}
    for k, ts, i in data:
        if k not in want or (ts, i) > want[k]:
            want[k] = (ts, i)
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(  # (user, epoch-seconds, is_purchase)
        st.tuples(st.integers(0, 2), st.integers(0, 100_000), st.booleans()),
        min_size=1,
        max_size=40,
    )
)
def test_binned_range_join_covers_window(spark, rows):
    """The two-bin probe (bin width == range width W) must find EXACTLY
    the naive-join pairs: every view in [p-W, p) shares a (user, bin)
    key with one of the purchase's two probes — including rows landing
    exactly on bin boundaries, where float binning would break."""
    W = 3600
    purchases = [(i, u, t) for i, (u, t, p) in enumerate(rows) if p]
    views = [(u, t) for (u, t, p) in rows if not p]
    if not purchases or not views:
        return
    want = {}
    for pid, pu, pt in purchases:
        n = sum(1 for (vu, vt) in views if vu == pu and pt - W <= vt < pt)
        if n:
            want[pid] = n

    pdf = spark.createDataFrame(purchases, ["event_id", "user_id", "p_epoch"])
    vdf = spark.createDataFrame(views, ["user_id", "v_epoch"])
    probes = pdf.select(
        "event_id",
        "user_id",
        "p_epoch",
        # array_distinct mirrors the production fix: Spark's div
        # truncates toward zero, so for 0 < p_epoch < W both probes
        # collapse to bin 0 and an un-deduped explode double-counts
        # boundary views (the falsifying example this test found)
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"(p_epoch - {W}) div {W}"),
                    F.expr(f"p_epoch div {W}"),
                )
            )
        ).alias("bin"),
    )
    binned = vdf.select(
        "user_id", "v_epoch", F.expr(f"v_epoch div {W}").alias("bin")
    )
    got = {
        r["event_id"]: r["n"]
        for r in probes.join(binned, ["user_id", "bin"])
        .filter(
            (F.col("v_epoch") >= F.col("p_epoch") - W)
            & (F.col("v_epoch") < F.col("p_epoch"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_cc_equals_union_find_model(spark, edge_list):
    """connected_components (large/small-star) must produce the SAME
    (node -> min-of-component) map as a pure-Python union-find, on
    random graphs including self-loops, parallel edges and multiple
    components."""
    from smartpool_bigdata_spark.ops.graph import connected_components

    df = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }

    # pure-Python union-find model
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edge_list:
        # a self-loop-only node is still a (singleton) component
        nodes.update((a, b))
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in nodes}
    assert got == want


_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=25),
        min_size=1,
        max_size=12,
    )
)
def test_repetition_signals_match_model(spark, docs_tokens):
    """repetition_signals vs a pure-Python Counter model on random token
    streams (tiny vocabulary -> heavy repetition, exercising both flag
    thresholds and the <ngram-token edge)."""
    from collections import Counter

    from smartpool_bigdata_spark.ops.text import repetition_signals

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["token_count"],
            r["top_token_fraction"],
            r["dup_ngram_fraction"],
            r["repetitive"],
        )
        for r in repetition_signals(df, ngram=3).collect()
    }
    want = {}
    for i, toks in enumerate(docs_tokens):
        n = len(toks)
        top = round(max(Counter(toks).values()) / n, 4)
        grams = [tuple(toks[j : j + 3]) for j in range(n - 2)]
        if grams:
            c = Counter(grams)
            dup = round(sum(v for v in c.values() if v > 1) / len(grams), 4)
        else:
            dup = 0.0
        want[i] = (n, top, dup, top > 0.2 or dup > 0.3)
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=20),
        min_size=1,
        max_size=8,
    ),
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=20),
)
def test_decontamination_matches_model(spark, train_tokens, bench_tokens):
    from smartpool_bigdata_spark.ops.text import decontamination_overlap

    train = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(train_tokens)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame(
        [(100, " ".join(bench_tokens))], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["overlap_grams"], r["total_grams"], r["contamination"])
        for r in decontamination_overlap(train, bench, ngram=3).collect()
    }
    bgrams = {
        tuple(bench_tokens[j : j + 3]) for j in range(len(bench_tokens) - 2)
    }
    want = {}
    for i, toks in enumerate(train_tokens):
        tgrams = {tuple(toks[j : j + 3]) for j in range(len(toks) - 2)}
        ov = len(tgrams & bgrams)
        if ov:
            want[i] = (ov, len(tgrams), round(ov / len(tgrams), 4))
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=4, max_size=15),
        min_size=2,
        max_size=10,
    ),
    st.integers(1, 5),
)
def test_incremental_lsh_equals_full_on_random_corpora(spark, docs_tokens, split):
    """incremental(new vs base∪new) == full-run pairs touching the new
    batch, on random corpora and random batch splits — the oracle query
    pins one concrete corpus; this pins the contract itself."""
    from smartpool_bigdata_spark.ops.text import (
        build_signature_table,
        incremental_minhash_pairs,
        minhash_pairs_from_signatures,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    cut = min(split, len(rows) - 1)
    base_rows, new_rows = rows[:cut], rows[cut:]
    base = spark.createDataFrame(base_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    base_sig = build_signature_table(base)
    new_sig = build_signature_table(new)
    new_ids = {i for i, _ in new_rows}
    inc = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in incremental_minhash_pairs(new_sig, base_sig, threshold=0.3).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_pairs_from_signatures(
            base_sig.union(new_sig), threshold=0.3
        ).collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    assert inc == full


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.floats(-100, 100, width=32), min_size=3, max_size=3),
        min_size=2,
        max_size=20,
    )
)
def test_covariance_matrix_matches_numpy(spark, vectors):
    """covariance_matrix vs numpy's independent np.cov implementation on
    random float32 vectors (the DuckDB oracle shares our formula; numpy
    does not)."""
    import numpy as np

    from smartpool_bigdata_spark.ops.vectors import covariance_matrix

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vectors)], "vec_id int, embedding array<float>"
    )
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(df, "embedding", dim=3).collect()
    }
    want = np.cov(
        np.array(vectors, dtype=np.float32).astype(np.float64), rowvar=False, ddof=1
    )
    for (i, j), v in got.items():
        w = want[i - 1, j - 1]
        assert abs(v - w) <= 1e-9 * max(1.0, abs(w)), ((i, j), v, w)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=30,
    ),
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=15,
    ),
)
def test_incremental_cc_equals_from_scratch(spark, base_edges, new_edges):
    """connected_components_incremental(CC(base), new) must equal the
    from-scratch CC over base ∪ new — on random graphs where new edges
    merge existing components, bridge to unseen nodes, or touch nothing
    that exists yet."""
    from smartpool_bigdata_spark.ops.graph import (
        connected_components,
        connected_components_incremental,
    )

    base_df = spark.createDataFrame(base_edges, ["src", "dst"])
    new_df = spark.createDataFrame(new_edges, ["src", "dst"])
    asg = connected_components(base_df)
    got = {
        r["node"]: r["component"]
        for r in connected_components_incremental(asg, new_df).collect()
    }
    want = {
        r["node"]: r["component"]
        for r in connected_components(base_df.union(new_df)).collect()
    }
    assert got == want
    # the MERGE-delta form: base assignment overlaid with the changes
    # must give the same map, and every delta row must actually differ
    base_map = {r["node"]: r["component"] for r in asg.collect()}
    delta = {
        r["node"]: r["component"]
        for r in connected_components_incremental(
            asg, new_df, changes_only=True
        ).collect()
    }
    overlaid = {**base_map, **delta}
    assert overlaid == want
    assert all(base_map.get(n) != c for n, c in delta.items())


@settings(**SETTINGS)
@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
    st.lists(st.integers(0, 10_000), min_size=0, max_size=60, unique=True),
)
def test_bloom_prefilter_never_false_negative(spark, dim_keys, probe_keys):
    """Bloom membership (the orders_bloom_prefilter construction) can
    false-positive but NEVER false-negative: every probe key that is in
    the dim set must pass all k position tests."""
    from smartpool_bigdata_spark.ops.text import spark_hash64

    M, K = 1024, 3
    dim = spark.createDataFrame([(k,) for k in dim_keys], ["key"])
    probes = spark.createDataFrame(
        [(k,) for k in set(probe_keys) | set(dim_keys)], ["key"]
    )
    js = F.explode(F.expr(f"sequence(0, {K - 1})")).alias("j")
    pos = F.expr(
        spark_hash64("concat(cast(j as string), '|', cast(key as string))")
        + f" % {M}"
    ).alias("pos")
    bits = dim.select("key", js).select(pos).distinct()
    passed = {
        r["key"]
        for r in (
            probes.select("key", js)
            .select("key", "j", pos)
            .join(F.broadcast(bits), "pos")
            .groupBy("key")
            .agg(F.countDistinct("j").alias("kj"))
            .filter(F.col("kj") == K)
            .collect()
        )
    }
    assert set(dim_keys) <= passed  # no false negatives, ever


@settings(**SETTINGS)
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=200),
)
def test_cms_estimate_is_one_sided(spark, keys):
    """Count-min estimates are a guaranteed OVERestimate of every key's
    true frequency (min over rows of hashed-bucket counters)."""
    from smartpool_bigdata_spark.ops.text import spark_hash64

    D, W = 4, 32
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    rows_expr = F.explode(F.expr(f"sequence(0, {D - 1})")).alias("r")
    pos = F.expr(
        spark_hash64("concat(cast(r as string), '|', cast(key as string))")
        + f" % {W}"
    ).alias("b")
    cells = (
        df.select("key", rows_expr).select("r", pos)
        .groupBy("r", "b").agg(F.count(F.lit(1)).alias("c"))
    )
    est = {
        r["key"]: r["e"]
        for r in (
            df.distinct()
            .select("key", rows_expr)
            .select("key", "r", pos)
            .join(F.broadcast(cells), ["r", "b"])
            .groupBy("key")
            .agg(F.min("c").alias("e"))
            .collect()
        )
    }
    import collections

    exact = collections.Counter(keys)
    for k, n in exact.items():
        assert est[k] >= n  # one-sided error, never an undercount


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_pagerank_matches_model_and_sums_to_one(spark, edge_list):
    """ops.graph.pagerank must match a pure-Python power iteration with
    the same symmetrize/degree/damping algebra on random graphs, and the
    rank vector must sum to 1 (no dangling mass on a symmetrized
    graph)."""
    from smartpool_bigdata_spark.ops.graph import pagerank

    df = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {
        r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()
    }

    sym = {(a, b) for a, b in edge_list if a != b}
    sym |= {(b, a) for a, b in sym}
    nodes = sorted({a for a, _ in sym})
    deg = {u: sum(1 for a, _ in sym if a == u) for u in nodes}
    n = len(nodes)
    d = 0.85
    base = (1.0 - d) / n
    ranks = {u: 1.0 / n for u in nodes}
    for _ in range(3):
        nxt = {u: 0.0 for u in nodes}
        for a, b in sym:
            nxt[b] += ranks[a] / deg[a]
        ranks = {u: base + d * nxt[u] for u in nodes}

    assert set(got) == set(nodes)
    for u in nodes:
        # the Spark path quantizes contribution addends to decimal(38,18)
        # before summing; allow only that quantization as slack
        assert abs(got[u] - ranks[u]) < 1e-9, (u, got[u], ranks[u])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_label_propagation_disjoint_cliques(spark):
    """Two disjoint 4-cliques: synchronous min-tie-break LPA converges
    each clique to its smallest member id within 3 sweeps, giving
    exactly two uniform communities — the determinism contract that
    makes the purchase_graph_communities oracle possible."""
    from itertools import combinations

    from smartpool_bigdata_spark.ops.graph import label_propagation

    edges = [(a, b) for a, b in combinations(range(4), 2)]
    edges += [(a + 10, b + 10) for a, b in combinations(range(4), 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["lbl"] for r in label_propagation(df).collect()}
    assert got == {**{n: 0 for n in range(4)}, **{n + 10: 10 for n in range(4)}}


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 100), min_size=2, max_size=30))
def test_cusum_prefix_identity_matches_recursion(counts):
    """The event_cusum_changepoints rewrite rests on the identity
    S+_t = P_t - min(P_j, j<=t) for the CUSUM recursion
    S+_t = max(0, S+_{t-1} + dev_t) (and mirrored for S-). Check it
    against the literal recursion on random integer series."""
    n = len(counts)
    total = sum(counts)
    devs = [c * n - total for c in counts]  # the query's exact-int scaling
    # literal recursions
    s_pos, s_neg, rp, rn = [], [], 0, 0
    for d in devs:
        rp = max(0, rp + d)
        rn = max(0, rn - d)
        s_pos.append(rp)
        s_neg.append(rn)
    # prefix-sum algebra
    p, run_min, run_max = 0, 0, 0
    for i, d in enumerate(devs):
        p += d
        run_min = min(run_min, p)
        run_max = max(run_max, p)
        assert p - run_min == s_pos[i]
        assert run_max - p == s_neg[i]


@settings(**SETTINGS)
@given(
    st.text(alphabet="ab", min_size=1, max_size=6),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 6),
                       st.sampled_from("ab")), max_size=2),
)
def test_symspell_delete_neighborhood_complete_for_lev2(word, edits):
    """The vocab_editdist_pairs equi-join is COMPLETE for lev<=2 by the
    SymSpell pigeonhole: any t within <=2 edits of s shares a
    delete-<=2 variant with s. Apply <=2 random del/ins/sub edits and
    assert the neighborhoods intersect."""
    from itertools import combinations

    def deletes2(w):
        outs = {w}
        for i in range(len(w)):
            outs.add(w[:i] + w[i + 1:])
        for i, j in combinations(range(len(w)), 2):
            outs.add(w[:i] + w[i + 1:j] + w[j + 1:])
        return outs

    t = word
    for kind, pos, ch in edits:
        pos = min(pos, len(t))
        if kind == 0 and t:  # delete
            p = min(pos, len(t) - 1)
            t = t[:p] + t[p + 1:]
        elif kind == 1:  # insert
            t = t[:pos] + ch + t[pos:]
        elif t:  # substitute
            p = min(pos, len(t) - 1)
            t = t[:p] + ch + t[p + 1:]
    if t:  # empty strings have no tokens in the query
        assert deletes2(word) & deletes2(t), (word, t)


# documents as lists of small-alphabet "tokens" so collisions/dup sets are
# common; singletons and identical docs exercise the prefix/position edge
# cases (n=1 prefix, ties, J=1 pairs)
pf_corpus = st.lists(
    st.lists(st.integers(0, 9), min_size=1, max_size=8),
    min_size=2,
    max_size=14,
)


@settings(max_examples=8, deadline=None)
@given(pf_corpus)
def test_prefix_filter_pairs_exact_recall(spark, docs):
    """prefix_filter_pairs (rarest-first prefix + length filter + PPJoin
    positional filter) must equal brute-force all-pairs token-set
    Jaccard >= 3/5 on random corpora — the positional filter is only
    admissible if NO qualifying pair is pruned, whatever the df ties,
    singleton sets, and duplicate documents."""
    from smartpool_bigdata_spark.ops.text import (
        prefix_filter_pairs,
        release_signature_caches,
    )

    rows = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    try:
        got = {
            (r["doc_a"], r["doc_b"]): (r["n_shared"], r["n_union"])
            for r in prefix_filter_pairs(
                df, threshold_num=3, threshold_den=5, shingle_k=1
            ).collect()
        }
    finally:
        release_signature_caches()
    sets = {i: {f"t{t}" for t in toks} for i, toks in enumerate(docs)}
    want = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            shared = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if 5 * shared >= 3 * union:
                want[(a, b)] = (shared, union)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ).filter(lambda es: any(a != b for a, b in es)),
    st.sets(st.integers(0, 12), min_size=1, max_size=4),
)
def test_personalized_pagerank_matches_model(spark, edge_list, seed_ids):
    """ops.graph.personalized_pagerank must match a pure-Python seeded
    power iteration (restart mass on the seed set only, sparse zero
    ranks elsewhere) on random graphs + random seed sets; seeds outside
    the graph are dropped, and total mass approaches 1 from below."""
    from smartpool_bigdata_spark.ops.graph import personalized_pagerank

    sym = {(a, b) for a, b in edge_list if a != b}
    sym |= {(b, a) for a, b in sym}
    nodes = sorted({a for a, _ in sym})
    seeds = sorted(set(seed_ids) & set(nodes))
    df = spark.createDataFrame(edge_list, ["src", "dst"])
    seeds_df = spark.createDataFrame([(s,) for s in seed_ids], ["node"])
    if not seeds:
        import pytest

        with pytest.raises(ValueError):
            personalized_pagerank(df, seeds_df, iterations=3)
        return
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds_df, iterations=3).collect()
    }

    deg = {u: sum(1 for a, _ in sym if a == u) for u in nodes}
    d = 0.85
    base = (1.0 - d) / len(seeds)
    ranks = {u: 1.0 / len(seeds) for u in seeds}
    for _ in range(3):
        nxt = {}
        for a, b in sym:
            if a in ranks:
                nxt[b] = nxt.get(b, 0.0) + ranks[a] / deg[a]
        ranks = {u: d * v for u, v in nxt.items()}
        for s in seeds:
            ranks[s] = ranks.get(s, 0.0) + base
    assert set(got) == set(ranks)
    for u in ranks:
        assert abs(got[u] - ranks[u]) < 1e-9, (u, got[u], ranks[u])
    assert sum(got.values()) <= 1.0 + 1e-9


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ).filter(lambda es: any(a != b for a, b in es)),
    st.sets(st.integers(0, 12), min_size=1, max_size=3),
    st.integers(1, 4),
)
def test_bfs_hops_matches_model(spark, edge_list, seed_ids, max_hops):
    """ops.graph.bfs_hops must equal a pure-Python multi-source BFS over
    the same symmetrized graph: min hop per node, seeds at hop 0 even if
    isolated, nothing beyond max_hops."""
    from smartpool_bigdata_spark.ops.graph import bfs_hops

    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    seeds = spark.createDataFrame([(s,) for s in seed_ids], ["node"])
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds, max_hops=max_hops).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in edge_list:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in seed_ids}
    frontier = set(seed_ids)
    for k in range(1, max_hops + 1):
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in want
        }
        for v in frontier:
            want[v] = k
        if not frontier:
            break
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(10, 16)),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 3),
)
def test_hits_matches_model(spark, edge_list, iterations):
    """ops.graph.hits must match a pure-Python L1-normalized HITS power
    iteration on random bipartite graphs; both vectors sum to 1."""
    from smartpool_bigdata_spark.ops.graph import hits as spark_hits

    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    hubs_df, auths_df = spark_hits(edges, iterations=iterations)
    got_h = {r["node"]: r["hub"] for r in hubs_df.collect()}
    got_a = {r["node"]: r["auth"] for r in auths_df.collect()}

    es = sorted(set(edge_list))
    srcs = sorted({a for a, _ in es})
    hub = {u: 1.0 / len(srcs) for u in srcs}
    auth: dict[int, float] = {}
    for _ in range(iterations):
        auth = {}
        for a, b in es:
            auth[b] = auth.get(b, 0.0) + hub.get(a, 0.0)
        s = sum(auth.values())
        auth = {v: x / s for v, x in auth.items()}
        hub = {}
        for a, b in es:
            hub[a] = hub.get(a, 0.0) + auth.get(b, 0.0)
        s = sum(hub.values())
        hub = {u: x / s for u, x in hub.items()}
    assert set(got_h) == set(hub) and set(got_a) == set(auth)
    for u in hub:
        assert abs(got_h[u] - hub[u]) < 1e-9
    for v in auth:
        assert abs(got_a[v] - auth[v]) < 1e-9
    assert abs(sum(got_h.values()) - 1.0) < 1e-9
    assert abs(sum(got_a.values()) - 1.0) < 1e-9


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(0, 6),
            st.integers(0, 6),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_2d_matches_brute_force(spark, rows):
    """ops.relational.skyline_2d == brute-force dominance filter,
    including tie groups and duplicate points (which survive together)."""
    from smartpool_bigdata_spark.ops.relational import skyline_2d

    tagged = [(i, g, x, y) for i, (g, x, y) in enumerate(rows)]
    df = spark.createDataFrame(tagged, ["rid", "g", "x", "y"])
    got = sorted(
        r["rid"] for r in skyline_2d(df, x="x", y="y", keys=["g"]).collect()
    )
    want = sorted(
        i
        for i, g, x, y in tagged
        if not any(
            g2 == g and x2 >= x and y2 >= y and (x2 > x or y2 > y)
            for _, g2, x2, y2 in tagged
        )
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 8), st.integers(0, 8), st.integers(0, 5)
        ),
        min_size=1,
        max_size=30,
    ),
    st.sets(st.integers(0, 8), min_size=1, max_size=2),
    st.integers(1, 4),
)
def test_temporal_reachability_matches_model(spark, edge_list, seed_ids, rounds):
    """ops.graph.temporal_reachability == pure-Python earliest-arrival
    relaxation: edges only traversable at t >= arrival(tail), arrivals
    only decrease, bounded rounds."""
    import datetime as _dt

    from smartpool_bigdata_spark.ops.graph import temporal_reachability

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (a, b, base + _dt.timedelta(days=t)) for a, b, t in edge_list
    ]
    edges = spark.createDataFrame(rows, ["src", "dst", "ts"])
    seeds = spark.createDataFrame([(s,) for s in seed_ids], ["node"])
    got = {
        r["node"]: r["arrival"]
        for r in temporal_reachability(
            edges, seeds, iterations=rounds
        ).collect()
    }

    epoch = _dt.datetime(1970, 1, 1)
    want = {s: epoch for s in seed_ids}
    es = sorted({(a, b, base + _dt.timedelta(days=t)) for a, b, t in edge_list})
    for _ in range(rounds):
        nxt = dict(want)
        for a, b, t in es:
            if a in want and t >= want[a] and t < nxt.get(b, _dt.datetime.max):
                nxt[b] = t
        want = nxt
    assert got == want


def test_bootstrap_ci_brackets_mean(spark):
    """The multiplier-bootstrap CI must bracket the point estimate and
    have positive width for every event type at sf0.001."""
    from smartpool_bigdata_spark.queries import REGISTRY

    rows = REGISTRY["event_value_bootstrap_ci"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"], dict(r.asDict())
        assert r["ci_hi"] > r["ci_lo"]


def test_cuped_reduces_variance_and_keeps_means_unbiased(spark):
    """CUPED's contract: per-arm adjusted variance <= raw variance (the
    pre-period covariate genuinely correlates), and the POOLED adjusted
    mean equals the pooled raw mean (the theta*(X - Xbar) term sums to
    zero over all users by construction)."""
    from smartpool_bigdata_spark.queries import REGISTRY

    rows = REGISTRY["segment_cuped_adjusted_lift"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 2
    n = sum(r["n_users"] for r in rows)
    pooled_raw = sum(r["mean_y"] * r["n_users"] for r in rows) / n
    pooled_adj = sum(r["mean_y_adj"] * r["n_users"] for r in rows) / n
    assert abs(pooled_raw - pooled_adj) < 1e-3
    # theta is the GLOBAL OLS minimizer, so the guarantee is on the
    # POOLED variance (reconstructed via the law of total variance from
    # per-arm moments), not on each tiny arm separately
    def pooled_var(mean_key, var_key, pooled_mean):
        ez2 = sum(
            r["n_users"] * (r[var_key] + r[mean_key] ** 2) for r in rows
        ) / n
        return ez2 - pooled_mean**2

    raw_var = pooled_var("mean_y", "var_y", pooled_raw)
    adj_var = pooled_var("mean_y_adj", "var_y_adj", pooled_adj)
    assert adj_var <= raw_var + 1e-6, (raw_var, adj_var)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10)),
        min_size=1,
        max_size=40,
    ).filter(lambda es: any(a != b for a, b in es)),
    st.integers(2, 3),
)
def test_kcore_matches_model(spark, edge_list, k):
    """ops.graph.kcore (enough rounds to converge) == pure-Python
    iterate-to-fixpoint k-core: same survivors, same in-core degrees."""
    from smartpool_bigdata_spark.ops.graph import kcore as spark_kcore

    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {
        r["node"]: r["core_degree"]
        for r in spark_kcore(edges, k=k, rounds=12).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in edge_list:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    nodes = set(adj)
    while True:
        drop = {u for u in nodes if len(adj[u] & nodes) < k}
        if not drop:
            break
        nodes -= drop
    want = {u: len(adj[u] & nodes) for u in nodes if len(adj[u] & nodes) > 0}
    assert got == want


def test_did_bootstrap_ci_brackets_estimate(spark):
    """The DiD bootstrap replicas center on the point estimate, so the
    CI must bracket it with positive width."""
    from smartpool_bigdata_spark.queries import REGISTRY

    r = REGISTRY["segment_did_bootstrap"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r["ci_lo"] <= r["did_estimate"] <= r["ci_hi"], dict(r.asDict())
    assert r["ci_hi"] > r["ci_lo"]
    assert abs(
        r["did_estimate"] - (r["treat_diff"] - r["control_diff"])
    ) < 1e-3


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=3,
        max_size=35,
        unique=True,
    ),
    st.integers(2, 4),
)
def test_dbscan_2d_matches_model(spark, coords, min_pts):
    """ops.vectors.dbscan_2d == a pure-Python exact DBSCAN with the same
    deterministic conventions (self-inclusive counts, min-id components,
    min-component borders), on random integer grids where points land
    exactly on cell boundaries — the worst case for the grid join."""
    from smartpool_bigdata_spark.ops.vectors import dbscan_2d

    eps = 5.0
    rows = [(i, float(cx), float(cy)) for i, (cx, cy) in enumerate(coords)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    got = {
        r["id"]: (r["role"], r["component"])
        for r in dbscan_2d(
            df, id_col="id", x="x", y="y", eps=eps, min_pts=min_pts
        ).collect()
    }

    def near(a, b):
        return (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= eps * eps

    nbrs = {
        i: {j for j, *_ in rows if j != i and near(rows[i], rows[j])}
        for i, *_ in rows
    }
    cores = {i for i in nbrs if len(nbrs[i]) + 1 >= min_pts}
    # components over the core-core graph (min-id labels)
    comp = {}
    for c in sorted(cores):
        if c in comp:
            continue
        stack, members = [c], []
        seen = {c}
        while stack:
            u = stack.pop()
            members.append(u)
            for v in nbrs[u] & cores:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        root = min(members)
        for u in members:
            comp[u] = root
    want = {}
    for i in nbrs:
        if i in cores:
            want[i] = ("core", comp[i])
        else:
            cn = {comp[v] for v in nbrs[i] & cores}
            want[i] = ("border", min(cn)) if cn else ("noise", -1)
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=45,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_densest_trajectory_matches_model(spark, edge_list):
    """densest_subgraph_trajectory == pure-Python bulk peeling with the
    same integer threshold; density trajectory row-identical, and the
    max-density round achieves >= half the true densest subgraph's
    density (the 2(1+eps) guarantee, checked against brute force over
    peel-prefix subsets on small graphs)."""
    from smartpool_bigdata_spark.ops.graph import densest_subgraph_trajectory

    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = [
        (r["round"], r["n_nodes"], r["sym_degree_sum"], r["density"])
        for r in densest_subgraph_trajectory(edges, max_rounds=12)
        .orderBy("round")
        .collect()
    ]

    adj: dict[int, set[int]] = {}
    for a, b in edge_list:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    nodes = set(adj)
    want = []
    for i in range(1, 13):
        degs = {u: len(adj[u] & nodes) for u in nodes if len(adj[u] & nodes) > 0}
        n, m2 = len(degs), sum(degs.values())
        if not n:
            break
        want.append((i, n, m2, m2 / (2.0 * n)))
        nodes = {u for u, d in degs.items() if 2 * 10 * d * n > 22 * m2}
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(-6, 6)),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([0.5, 2.0, 100.0]),
)
def test_skyline_2d_banded_matches_brute_force(spark, rows, band_width):
    """ops.relational.skyline_2d_banded (min x / max y, banded prefix)
    == brute-force dominance filter for EVERY band width — single-band,
    multi-band, and one-x-per-band layouts; exactness must never depend
    on the banding choice. Duplicate points survive together; negative
    y exercises the null-safe prefix (no -1 sentinel)."""
    from smartpool_bigdata_spark.ops.relational import skyline_2d_banded

    tagged = [(i, x, y) for i, (x, y) in enumerate(rows)]
    df = spark.createDataFrame(tagged, ["rid", "x", "y"])
    got = sorted(
        r["rid"]
        for r in skyline_2d_banded(
            df, x="x", y="y", band_width=band_width
        ).collect()
    )
    want = sorted(
        i
        for i, x, y in tagged
        if not any(
            x2 <= x and y2 >= y and (x2 < x or y2 > y)
            for _, x2, y2 in tagged
        )
    )
    assert got == want


def test_shapley_efficiency_axiom(spark):
    """channel_shapley_attribution satisfies the EFFICIENCY axiom on the
    real testdata: the credits sum to v(full coalition) - v(empty) —
    with v({}) pinned at 0 by the touchpoint filter, sum(shapley) must
    equal the observed conversion rate of all-four-channel journeys
    (recomputed here independently, driver-side)."""
    from smartpool_bigdata_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    got = {
        r["channel"]: r["shapley"]
        for r in REGISTRY["channel_shapley_attribution"]
        .build(spark, SF_DIR)
        .collect()
    }
    assert set(got) == {"view", "click", "signup", "error"}

    from smartpool_bigdata_spark.catalog import load_table

    bit = {"view": 1, "click": 2, "signup": 4, "error": 8}
    days: dict[tuple, list] = {}
    for row in (
        load_table(spark, SF_DIR, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"), "event_type")
        .collect()
    ):
        days.setdefault((row["user_id"], row["day"]), []).append(
            row["event_type"]
        )
    full = [
        1 if "purchase" in types else 0
        for types in days.values()
        if sum(bit.get(t, 0) for t in set(types)) == 15
    ]
    v_full = sum(full) / len(full) if full else 0.0
    assert abs(sum(got.values()) - v_full) < 5e-6  # 4 x round(.,6) slack


def test_conformal_threshold_is_exact_order_statistic(spark):
    """order_conformal_interval's banded k-th-element selection returns
    EXACTLY the ceil(0.9(n+1))-th smallest calibration residual — the
    band histogram + in-band sort must agree with a driver-side full
    sort of the residuals (ties broken by orderkey, same as the query)."""
    from smartpool_bigdata_spark.catalog import load_table
    from smartpool_bigdata_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    row = (
        REGISTRY["order_conformal_interval"].build(spark, SF_DIR).collect()[0]
    )

    orders = [
        (r["o_orderkey"], r["o_orderpriority"], round(r["o_totalprice"] * 100))
        for r in load_table(spark, SF_DIR, "orders").collect()
    ]
    pred_sum: dict[str, list] = {}
    for k, p, cents in orders:
        if k % 10 < 6:
            s, n = pred_sum.get(p, (0, 0))
            pred_sum[p] = (s + cents, n + 1)
    pred = {p: s / n for p, (s, n) in pred_sum.items()}
    cal = sorted(
        (abs(cents - pred[p]), k)
        for k, p, cents in orders
        if k % 10 in (6, 7) and p in pred
    )
    n_cal = len(cal)
    kth = min((9 * (n_cal + 1) + 9) // 10, n_cal)
    assert row["n_cal"] == n_cal and row["k"] == kth
    assert row["q_hat"] == round(cal[kth - 1][0] / 100, 4)


@settings(**SETTINGS)
@given(st.lists(st.floats(-6.0, 6.0), min_size=1, max_size=20))
def test_as_erfc_formula_accurate(zs):
    """The shared A&S 7.1.26 SQL text (_AS_ERFC_P) evaluates within its
    documented 1.5e-7 of math.erfc's two-sided tail — checked through
    DuckDB so the test covers the exact SQL string both engines run."""
    import math

    import duckdb

    from smartpool_bigdata_spark.queries import _AS_ERFC_P

    con = duckdb.connect()
    for z in zs:
        got = con.execute(
            f"SELECT {_AS_ERFC_P} FROM (SELECT CAST(? AS DOUBLE) AS z)",
            [z],
        ).fetchone()[0]
        want = math.erfc(abs(z) / math.sqrt(2))
        assert abs(got - want) < 1.6e-7, (z, got, want)
    con.close()


def test_bh_fdr_stepup_consistent(spark):
    """hourly_value_bh_fdr's output satisfies the BH invariants on the
    real testdata: ranks are a permutation of 1..m ordered by
    (p, event_type, hr); discoveries are exactly a rank-prefix; and the
    prefix boundary obeys the step-up rule p_(k*) <= k*.q/m (checked on
    the reported 6-digit p with matching slack)."""
    from smartpool_bigdata_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    rows = (
        REGISTRY["hourly_value_bh_fdr"].build(spark, SF_DIR).collect()
    )
    m = len(rows)
    assert sorted(r["bh_rank"] for r in rows) == list(range(1, m + 1))
    by_rank = sorted(rows, key=lambda r: r["bh_rank"])
    assert by_rank == sorted(
        rows, key=lambda r: (r["p_value"], r["event_type"], r["hr"])
    )
    flags = [r["discovery"] for r in by_rank]
    k_star = sum(flags)
    assert flags == [1] * k_star + [0] * (m - k_star)
    if k_star:
        r = by_rank[k_star - 1]
        assert r["p_value"] <= k_star * 0.1 / m + 5e-7
    if k_star < m:
        # no rank beyond the cutoff may satisfy the step-up inequality
        assert all(
            by_rank[j]["p_value"] > (j + 1) * 0.1 / m - 5e-7
            for j in range(k_star, m)
        )


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["start", "view", "click", "signup", "error"]),
            st.sampled_from(["view", "click", "signup", "error", "conv",
                             "null"]),
            st.integers(1, 50),
        ),
        min_size=1,
        max_size=25,
    ).filter(lambda tc: any(s == "start" for s, _, _ in tc))
)
def test_markov_cramer_matches_numpy_solve(tc):
    """The symbolically generated 120-term Cramer determinants in
    _mc_loop_sql agree with numpy.linalg.solve on random transition
    tables, for the base chain AND all four removal scenarios —
    evaluated through DuckDB so the exact shared SQL text is what's
    checked. Guards degenerate draws where a removal disconnects START
    entirely (numpy solve still defined; SQL must match it)."""
    import numpy as np

    import duckdb

    from smartpool_bigdata_spark.queries import (
        _MC_CHANNELS,
        _MC_SRCS,
        _mc_loop_sql,
    )

    # aggregate duplicate (src, dst) draws like the real count agg would
    agg: dict[tuple, int] = {}
    for s, d, c in tc:
        agg[(s, d)] = agg.get((s, d), 0) + c
    # real journeys always END with an absorbing transition, so every
    # src state has absorbing mass and I - Q is nonsingular; random
    # draws can violate that (e.g. a pure self-loop) — restore the
    # invariant the real pipeline guarantees
    for s in {s for s, _ in agg}:
        agg[(s, "null")] = agg.get((s, "null"), 0) + 1
    rows = ", ".join(f"('{s}', '{d}', {c})" for (s, d), c in agg.items())
    tc_body = (
        f"SELECT src, dst, CAST(cnt AS BIGINT) AS cnt "
        f"FROM (VALUES {rows}) t(src, dst, cnt)"
    )
    sql = _mc_loop_sql().format(tc_body=tc_body)
    con = duckdb.connect()
    got = {
        r[0]: (r[1], r[3])  # channel -> (removal_effect, p_convert)
        for r in con.execute(sql).fetchall()
    }
    con.close()

    out = {s: sum(c for (s2, _), c in agg.items() if s2 == s)
           for s in _MC_SRCS}

    def p(s, d, removed):
        if removed in (s, d):
            return 0.0
        return agg.get((s, d), 0) / max(out.get(s, 0), 1)

    def a_start(removed):
        n = len(_MC_SRCS)
        A = np.eye(n)
        R = np.zeros(n)
        for i, s in enumerate(_MC_SRCS):
            for j, d in enumerate(_MC_SRCS):
                if j > 0:  # 'start' is never a destination
                    A[i, j] -= p(s, d, removed)
            R[i] = p(s, "conv", removed)
        return float(np.linalg.solve(A, R)[0])

    v0 = a_start("none")
    if v0 <= 0:
        assert got == {} or all(g[1] == 0.0 for g in got.values())
        return
    res = {c: (v0 - a_start(c)) / v0 for c in _MC_CHANNELS}
    for c in _MC_CHANNELS:
        assert abs(got[c][0] - round(res[c], 6)) < 2e-6, (c, got[c], res[c])
        assert got[c][1] == round(v0, 6)
