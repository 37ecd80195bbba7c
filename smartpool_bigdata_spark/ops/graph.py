"""Iterative graph operators on DataFrames. ``connected_components`` is
the step that turns near-duplicate PAIRS into duplicate CLUSTERS so a
dedup pipeline can keep one representative per cluster.

Scale: every operator here is a driver loop of join + aggregate rounds
(key shuffles on node id), one dataflow plan per round, with lineage
cut each round by ``localCheckpoint`` — without the cut the loop would
build an exponentially deep plan. Connected components uses alternating
large-star/small-star (Kiveris et al. SoCC'14), which converges in
~log2(n) rounds on any graph, long chains included, so there is one
algorithm for near-dup stars and web-scale graphs alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Undirected connected components via alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14). ``edges`` holds one row per pair; returns (node,
    component) where component = the smallest node id in the node's
    component, for every node the input mentions (self-loop-only nodes
    come back as singletons). Deterministic; property-tested against a
    union-find model on random graphs (``tests/test_properties.py``).

    Large-star/small-star contracts path length geometrically: each
    round rewires every node toward its neighborhood minimum, and the
    proof in the paper bounds total rounds by O(log^2 n) — measured
    ~log2(n)+2 on worst-case chains: 256-chain → 9 rounds, 1024 → 11,
    4096 → 13, 16384 → 15 (incl. the final no-change round), where
    min-label propagation needs n iterations (measured 65 on a 64-chain;
    SCALE.md §6). Raises after ``max_rounds`` (no silent partial
    convergence).

    Per round: two star ops, each ONE groupBy-min + ONE join on node id,
    edge count monotonically non-increasing after round 1 — no state
    beyond the edge list itself. Lineage is cut per round with
    ``localCheckpoint``. Convergence test = (count, xxhash64-xor)
    checksum equality of the rewired edge list with the previous
    round's, confirmed by an exact EXCEPT of the two checkpointed lists,
    so a checksum collision can delay but never corrupt the result.

    large-star(u): connect every neighbor v > u to min(Γ⁺(u));
    small-star(u): connect every neighbor v ≤ u (and u) to min(Γ⁺(u)),
    keyed on u = max side so every edge is processed exactly once.
    At the fixed point the edge list is a forest of depth-1 stars rooted
    at component minima.
    """
    # one checkpoint of the input: the node set and the edge list both
    # derive from it, so an uncheckpointed upstream plan (an LSH pair
    # stage) runs once, not once per derived frame
    raw = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # every node mentioned in the input — self-loop-only nodes must still
    # come back as singleton components
    all_nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    e = raw.filter(F.col("a") != F.col("b"))
    if e.isEmpty():
        return all_nodes.withColumn("component", F.col("node"))

    def _checksum(df: DataFrame) -> tuple:
        # bit_xor, not sum: the edge list is distinct so xor-folding the
        # row hashes is order/partition-invariant and cannot overflow
        # (sum(xxhash64) throws under ANSI mode)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _large_star(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy(F.col("a").alias("u")).agg(
            F.min("b").alias("nbr_min")
        )
        m = F.least(F.col("nbr_min"), F.col("u"))
        return (
            sym.join(mins, sym["a"] == F.col("u"))
            .filter(F.col("b") > F.col("u"))
            .select(F.col("b").alias("a"), m.alias("b"))
            .distinct()
        )

    def _small_star(cur: DataFrame) -> DataFrame:
        directed = cur.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        children = directed.join(mins, "u").select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
        centers = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return children.union(centers).filter(F.col("a") != F.col("b")).distinct()

    cur, cur_sig = e, None
    for rounds in range(1, max_rounds + 1):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        sig = _checksum(nxt)
        # checksum said fixed point — confirm exactly on the two
        # checkpointed lists (a collision costs a round, never a wrong
        # component map); equal counts + one-way EXCEPT of distinct
        # lists is equality, and nxt = star(cur) = cur is the fixed point
        if sig == cur_sig and nxt.exceptAll(cur).isEmpty():
            if stats is not None:
                stats["rounds"] = rounds
            break
        cur, cur_sig = nxt, sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    roots = (
        cur.select(F.col("b").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    mapped = cur.select(
        F.col("a").alias("node"), F.col("b").alias("component")
    ).union(roots)
    # both sides are post-checkpoint (no size stats), so without a hint
    # Catalyst falls back to SortMergeJoin — pin the repo's
    # post-checkpoint convention: shuffle-hash, no sort
    singletons = all_nodes.join(
        mapped.select("node").hint("shuffle_hash"), "node", "left_anti"
    ).withColumn("component", F.col("node"))
    return mapped.union(singletons)


def connected_components_incremental(
    assignment: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    changes_only: bool = False,
) -> DataFrame:
    """Merge NEW edges into an EXISTING (node, component) assignment
    without re-clustering the base graph — the daily-ingest companion of
    ``incremental_minhash_pairs``: yesterday's corpus already carries a
    component map; today's batch contributes a FEW new near-dup edges,
    and the update must cost O(new edges), not O(corpus edges).

    Contraction argument: every existing component is connected, so
    collapsing it to its root (= its min node id) preserves the
    component structure of base ∪ new; running CC on the CONTRACTED
    graph — whose nodes are the touched roots plus unseen ids, i.e.
    O(new edges) of them — and broadcasting the root remap back over the
    assignment yields exactly ``full CC(base ∪ new)`` (property-tested
    against the from-scratch run on random graphs). Min-id labels are
    preserved: old roots are the minima of their node sets, so the min
    over merged roots/unseen ids is the global min of the merged
    component.

    Plan shape: ONE scan of the assignment (semi-joined down to touched
    nodes by the broadcast new-edge node set), a CC over the
    tiny contracted graph, and one broadcast remap join back — the
    corpus-sized frame is never shuffled on graph structure.
    """
    asg = assignment.select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )
    e = new_edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    e_nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)  # tiny; referenced 3x below
    )
    touched = asg.join(F.broadcast(e_nodes), "node").localCheckpoint(eager=True)
    la = touched.select(F.col("node").alias("a"), F.col("component").alias("ra"))
    lb = touched.select(F.col("node").alias("b"), F.col("component").alias("rb"))
    contracted = (
        e.join(F.broadcast(la), "a", "left")
        .join(F.broadcast(lb), "b", "left")
        .select(
            F.coalesce("ra", F.col("a")).alias("src"),
            F.coalesce("rb", F.col("b")).alias("dst"),
        )
    )
    remap = connected_components(
        contracted, max_rounds=max_rounds
    ).localCheckpoint(eager=True)
    # base rows: touched components re-root, untouched pass through
    root_map = remap.select(
        F.col("node").alias("component"), F.col("component").alias("__new_root")
    )
    # unseen nodes (appear only in the new edges) enter with their merged root
    unseen = e_nodes.join(asg.select("node"), "node", "left_anti")
    unseen_rows = unseen.join(F.broadcast(remap), "node").select(
        "node", "component"
    )
    if changes_only:
        # the MERGE-delta form for a maintained assignment table: only
        # base rows whose root actually moved, plus the new nodes —
        # O(touched components), so a keyed MERGE touches O(batch) rows
        # instead of rewriting the corpus-sized map
        changed = (
            asg.join(F.broadcast(root_map), "component")
            .filter(F.col("__new_root") != F.col("component"))
            .select("node", F.col("__new_root").alias("component"))
        )
        return changed.union(unseen_rows)
    rebased = asg.join(F.broadcast(root_map), "component", "left").select(
        "node", F.coalesce("__new_root", F.col("component")).alias("component")
    )
    return rebased.union(unseen_rows)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED graph (edges are
    symmetrized, so every node has out-degree >= 1 and there is no
    dangling mass to redistribute — the classic sink complication
    disappears by construction). Returns (node, rank) for every node
    that appears in an edge; ranks sum to 1.

    Fixed iteration count rather than convergence-test because (a) the
    result is then a pure function of the input — SQL-oracle
    expressible as a chain of per-iteration CTEs, giving the iterative
    family a full value-hash gate — and (b) production PageRank at
    corpus scale is run with a fixed budget anyway (power iteration
    gains a fixed ~damping^k error factor per step regardless of graph
    size).

    Cross-engine determinism: the per-node contribution sum is the only
    order-dependent float reduction, so each addend is cast to
    DECIMAL(38,18) before summation (exact, associative — the
    ``functions.stable`` pattern at higher precision; rank magnitudes
    are <= 1 so 20 integer digits of headroom are ample). Every other
    float op is a per-row IEEE multiply/divide/add with identical
    operand derivation in both engines, so 5 iterations stay
    bit-identical end to end.

    Scale: degree table and weighted edge list are built once
    (localCheckpoint cuts the loop's lineage); each iteration is ONE
    join of the rank vector onto the weighted edges + ONE groupBy-sum —
    two key-shuffles, the shape of one ``connected_components`` star op.
    The rank vector is O(nodes) and never collected; iteration count is
    a constant.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    sym = (
        sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # materialized once: referenced by the node count, the rank-vector
    # init AND the weighted-edge build — without the cut each action
    # would re-shuffle the symmetrized edge list
    deg = (
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).alias("__deg"))
        .localCheckpoint(eager=True)
    )
    wedges = (
        sym.join(deg, "a")
        .select(
            "a",
            "b",
            (F.lit(1.0) / F.col("__deg").cast("double")).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    n_nodes = deg.count()  # driver scalar: one count, never row data
    init = 1.0 / n_nodes
    base = (1.0 - damping) / n_nodes
    ranks = deg.select(F.col("a").alias("node"), F.lit(init).alias("rank"))
    for _ in range(iterations):
        contrib = wedges.join(
            ranks, wedges["a"] == ranks["node"]
        ).select(F.col("b"), (F.col("rank") * F.col("w")).alias("c"))
        ranks = (
            contrib.groupBy(F.col("b").alias("node"))
            .agg(
                (
                    F.lit(base)
                    + F.lit(damping)
                    * F.sum(F.col("c").cast("decimal(38,18)")).cast("double")
                ).alias("rank")
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank: the restart mass
    teleports to the ``seeds`` node set (first column, cast to long)
    instead of uniformly — rank(v) becomes v's affinity to the seeds
    (the recommendation / related-entities primitive). Same undirected
    symmetrization, fixed-budget determinism, and decimal(38,18)-stable
    contribution sums as ``pagerank`` (see its docstring); seeds not
    present in the graph are dropped.

    Sparse by construction: the vector starts with rows only for seeds
    and grows one hop per iteration — nodes never reached carry exact 0
    and never materialize, so per-seed-set cost is proportional to the
    touched neighborhood, not the graph. The restart mass is folded in
    by a UNION of per-node contribution sums with the O(seeds) base
    rows followed by one groupBy-sum — zero-in-contribution seeds keep
    their base without an outer join.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    sym = (
        sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).alias("__deg"))
        .localCheckpoint(eager=True)
    )
    wedges = (
        sym.join(deg, "a")
        .select(
            "a",
            "b",
            (F.lit(1.0) / F.col("__deg").cast("double")).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    seed_nodes = (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .join(deg.select(F.col("a").alias("node")), "node", "left_semi")
        .localCheckpoint(eager=True)
    )
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed appears in the graph")
    base = (1.0 - damping) / n_seeds
    base_rows = seed_nodes.select(
        "node", F.lit(base).alias("val")
    ).localCheckpoint(eager=True)
    ranks = seed_nodes.select("node", F.lit(1.0 / n_seeds).alias("rank"))
    for _ in range(iterations):
        contrib = wedges.join(ranks, wedges["a"] == ranks["node"]).select(
            F.col("b").alias("node"), (F.col("rank") * F.col("w")).alias("c")
        )
        contrib_agg = contrib.groupBy("node").agg(
            (
                F.lit(damping)
                * F.sum(F.col("c").cast("decimal(38,18)")).cast("double")
            ).alias("val")
        )
        ranks = (
            contrib_agg.unionByName(base_rows)
            .groupBy("node")
            .agg(
                F.sum(F.col("val").cast("decimal(38,18)"))
                .cast("double")
                .alias("rank")
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS label propagation (community
    detection) over an undirected graph. Returns (node, label) after
    ``iterations`` sweeps; initial label = node id.

    Determinism: classic LPA breaks vote ties randomly and is therefore
    unreproducible; this variant is a pure function of the input — the
    per-node vote is argmax(neighbor-label count) with ties broken by
    SMALLEST label, and the sweep is synchronous (all nodes update from
    the same previous labeling). Every operation is INTEGER arithmetic
    (counts and ids), so there is no float parity question at all and
    the fixed-sweep result is SQL-oracle expressible as one CTE pair
    (vote, argmax) per iteration — the same design trade as
    ``pagerank`` above: fixed budget => full value-hash gate.

    Scale: each sweep is one join of the label vector onto the edge
    list + one (node, label) count + one per-node argmax window — the
    window partitions on node, whose fan-in is bounded by the node's
    DISTINCT NEIGHBOR LABELS (<= degree), so there is no giant-partition
    hazard; hub degree is the inherent cost of LPA on any engine.
    localCheckpoint cuts the loop lineage like the other iterative ops.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    sym = (
        sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # referenced every sweep
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("lbl").asc()
    )
    for _ in range(iterations):
        # shuffle-hash: label vector x edge list is big-big at scale and
        # re-aggregated immediately — sorting both sides buys nothing
        votes = (
            sym.join(labels.hint("shuffle_hash"), sym["a"] == labels["node"])
            .groupBy(F.col("b").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=True)
        )
    return labels


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source breadth-first search over an UNDIRECTED graph
    (edges symmetrized like ``pagerank``): returns (node, hop) where
    ``hop`` is the minimum number of edges from any seed, hop 0 = the
    seeds themselves, bounded by ``max_hops``. Unreachable nodes are
    absent. The reachability / blast-radius primitive the rank family
    can't express (PageRank says *how much* influence flows, BFS says
    *how far* it is).

    Semantics are a pure function of (edges, seeds, max_hops), so a
    DuckDB ``WITH RECURSIVE`` twin value-locks every (node, hop)
    assignment — no float anywhere.

    Scale: textbook frontier expansion (the Pregel iteration shape):
    each hop is ONE equi-join of the current frontier onto the edge
    list + ONE distinct + ONE anti-join against the visited set —
    all hash shuffles on node id; frontier and visited are O(nodes),
    never collected. ``localCheckpoint`` cuts per-iteration lineage
    (without it the k-th frontier replays all k-1 prior joins on every
    action). The loop's only driver-side value is the isEmpty
    early-stop probe. Worst case cost: max_hops scans of the edge
    list — for small-diameter graphs the frontier saturates and the
    anti-join empties it after ~diameter rounds.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    sym = (
        sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = frontier.select("node", F.lit(0).alias("hop"))
    for k in range(1, max_hops + 1):
        nbrs = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select(F.col("b").alias("node"))
            .distinct()
        )
        new = nbrs.join(visited.select("node"), "node", "left_anti")
        frontier = new.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        visited = visited.union(
            frontier.select("node", F.lit(k).alias("hop"))
        ).localCheckpoint(eager=True)
    return visited


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """HITS (hubs & authorities, Kleinberg) over a DIRECTED graph with a
    fixed iteration budget and L1 normalization. Returns
    ``(hubs, auths)``: (node, hub) for every node with out-edges and
    (node, auth) for every node with in-edges.

    The L1 variant (divide by the sum, not the L2 norm) keeps every
    operation a join + decimal-stable sum + one double division — no
    sqrt — so a fixed budget is a pure function of the input and a
    chained-CTE SQL oracle can value-lock the full vectors, exactly like
    ``pagerank``. Ranking order is identical to the L2 variant (both are
    positive rescalings of the same power iteration on AᵀA / AAᵀ).

    Zero-score semantics are SPARSE on both sides: a node with no
    in-edges never enters the auth vector (inner-join algebra), matching
    the oracle's inner joins row-for-row.

    Scale: each half-iteration is ONE equi-join of the score vector onto
    the edge list + ONE groupBy decimal-sum (two key shuffles) + ONE
    single-row global sum broadcast back with a crossJoin (a broadcast
    of one row — never a shuffle). Vectors are O(nodes), edges scanned
    2×/iteration, lineage cut per iteration with localCheckpoint.
    """
    if iterations < 1:
        raise ValueError(
            f"hits() needs iterations >= 1 (got {iterations}); with 0 the "
            "auth vector would never be computed"
        )
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).distinct().localCheckpoint(eager=True)

    def _l1_normalize(vec: DataFrame, col: str) -> DataFrame:
        total = vec.agg(
            F.sum(F.col(col).cast("decimal(38,18)"))
            .cast("double")
            .alias("__l1")
        )
        return vec.crossJoin(F.broadcast(total)).select(
            "node", (F.col(col) / F.col("__l1")).alias(col)
        )

    n_src = e.select("a").distinct().count()
    hubs = e.select(F.col("a").alias("node")).distinct().select(
        "node", F.lit(1.0 / n_src).alias("hub")
    )
    auths = None
    for _ in range(iterations):
        a_raw = (
            e.join(hubs, e["a"] == hubs["node"])
            .groupBy(F.col("b").alias("node"))
            .agg(
                F.sum(F.col("hub").cast("decimal(38,18)"))
                .cast("double")
                .alias("auth")
            )
        )
        auths = _l1_normalize(a_raw, "auth").localCheckpoint(eager=True)
        h_raw = (
            e.join(auths, e["b"] == auths["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.sum(F.col("auth").cast("decimal(38,18)"))
                .cast("double")
                .alias("hub")
            )
        )
        hubs = _l1_normalize(h_raw, "hub").localCheckpoint(eager=True)
    return hubs, auths


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ts: str = "ts",
    seed_col: str = "node",
    seed_ts=None,
    iterations: int = 4,
) -> DataFrame:
    """Earliest-arrival TIME-RESPECTING reachability over a directed
    temporal graph: an edge (u, v, t) can be traversed only if u was
    reached at or before t, and then v is reached at time t. Returns
    (node, arrival) — the earliest time each node can be reached from
    the seed set along a time-increasing path, after a fixed number of
    relaxation rounds (covers all time-respecting paths of up to
    ``iterations`` edges; temporal paths are NOT covered by static BFS,
    which happily walks back in time).

    This is the propagation primitive for influence / contagion /
    provenance over interaction logs — the temporal twin of
    ``bfs_hops``. Fixed budget => pure function of the input => a
    chained-CTE SQL oracle value-locks every (node, arrival) pair
    (min() over timestamps, no floats anywhere).

    ``seed_ts``: the time seeds become active (a Column or literal
    accepted by ``F.lit``); defaults to epoch so every seed edge
    qualifies.

    Scale: each round is ONE equi-join of the arrival vector onto the
    edge list (time residual as a join filter) + ONE min-aggregate over
    the union — two key shuffles per round, vector O(nodes), edges
    scanned once per round, lineage cut with localCheckpoint. Monotone
    (arrivals only decrease), so rounds converge like Bellman-Ford.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"),
        F.col(dst).cast("long").alias("b"),
        F.col(ts).cast("timestamp_ntz").alias("t"),
    ).distinct().localCheckpoint(eager=True)
    if seed_ts is None:
        seed_ts = "1970-01-01 00:00:00"
    arr = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(seed_ts).cast("timestamp_ntz").alias("arrival"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        relaxed = (
            e.join(arr, e["a"] == arr["node"])
            .where(F.col("t") >= F.col("arrival"))
            .select(F.col("b").alias("node"), F.col("t").alias("arrival"))
        )
        arr = (
            arr.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
            .localCheckpoint(eager=True)
        )
    return arr


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
) -> DataFrame:
    """Fixed-round k-CORE peeling over an UNDIRECTED graph (edges
    symmetrized): repeatedly delete every node whose CURRENT degree is
    below ``k`` (synchronous sweeps — all under-degree nodes drop
    together, then degrees recompute). Returns the surviving nodes with
    their within-core degree after ``rounds`` sweeps.

    The k-core is the standard cohesion screen (spam rings, loyal-buyer
    cores, dense subcommunities) that degree thresholding alone gets
    wrong — deleting a node can drag its neighbors below k, so the
    filter must cascade. A fixed sweep budget keeps the result a pure
    function of the input (chained-CTE SQL oracle, all-integer), and
    peeling converges geometrically in practice; compare the last two
    sweeps' survivor counts to detect convergence (the gate query
    value-locks that flag).

    Scale: each sweep is ONE degree hash-agg over the surviving edge
    list + TWO semi-joins to drop edges touching deleted nodes — all
    key shuffles, no node ever collected; lineage localCheckpoint-cut
    per sweep. Survivor monotonicity means edge volume only shrinks.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    e = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        keep = (
            e.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= k)
            .select(F.col("a").alias("node"))
        )
        e = (
            e.join(keep, e["a"] == keep["node"], "left_semi")
            .join(keep, F.col("b") == keep["node"], "left_semi")
            .localCheckpoint(eager=True)
        )
    return e.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def densest_subgraph_trajectory(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    eps_num: int = 22,
    eps_den: int = 10,
    max_rounds: int = 12,
) -> DataFrame:
    """Greedy densest-subgraph peeling (Bahmani, Kumar & Vassilvitskii,
    VLDB'12 — the MapReduce 2(1+eps)-approximation of Charikar's greedy):
    repeatedly delete EVERY node whose degree is <= (eps_num/eps_den) *
    (E/N) — for the default 22/10 that is 2(1+0.1)·avg/2, giving the
    2(1+eps) guarantee in O(log N) rounds. Returns one row per non-empty
    round: (round, n_nodes, sym_degree_sum, density) over the surviving
    subgraph BEFORE that round's deletion; the max-density row is the
    approximation's answer.

    Deleting low-degree nodes in bulk is what makes this distributable
    (sequential Charikar removes ONE min-degree node per step — a chain
    of |V| dependent steps); the threshold comparison is kept
    INTEGER-EXACT (eps_den * deg * N > eps_num * E as BIGINT cross-
    multiplication), so round membership — and therefore every stat —
    is a pure function of the input with a chained-CTE SQL twin.

    Scale per round: one degree hash-agg + one two-row stats aggregate
    + two semi-joins, same shape as ``kcore``; edges shrink
    geometrically (each round removes >= eps/(2+2eps) of nodes or
    terminates), lineage localCheckpoint-cut.
    """
    # decimal(38,0) headroom for the keep-filter product below:
    # 2*eps_den * deg * n with deg,n <= 2^63-1 means deg*n < 8.6e37, so
    # 2*eps_den must stay <= 10 digits of slack past that — bound it at
    # 1e9 (any realistic eps ratio is single digits). Without this cap a
    # huge caller-supplied eps_den could overflow decimal(38,0), which
    # under non-ANSI evaluation yields NULL -> filter false -> nodes
    # silently dropped.
    if not (0 < eps_den <= 500_000_000) or eps_num <= 0:
        raise ValueError(
            "eps_num/eps_den must be positive and eps_den <= 5e8 "
            f"(decimal(38,0) overflow headroom); got {eps_num}/{eps_den}"
        )
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    e = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rows = []
    spark = edges.sparkSession
    for i in range(1, max_rounds + 1):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        stats = deg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("deg").cast("bigint").alias("m2"),  # 2E (sym degree sum)
        ).collect()[0]
        n, m2 = stats["n"], stats["m2"]  # driver scalars, like a watermark
        if not n:
            break
        rows.append((i, n, m2, float(m2) / (2.0 * n)))
        # keep iff eps_den * deg * N > eps_num * E; with m2 = 2E the
        # integer form is 2 * eps_den * deg * n > eps_num * m2. The
        # three-bigint product can exceed 2^63 on extreme graphs
        # (deg * n > ~4.6e17) and silently wrap without ANSI checks, so
        # the left factor accumulates in decimal(38,0) — integer-exact
        # for any bigint deg/n GIVEN the eps_den <= 5e8 entry bound
        # above (2*5e8 * (2^63-1)^2 < 10^38).
        keep = deg.filter(
            F.lit(2 * eps_den).cast("decimal(38,0)") * F.col("deg") * F.lit(n)
            > F.lit(eps_num).cast("decimal(38,0)") * F.lit(m2)
        ).select(F.col("a").alias("node"))
        e = (
            e.join(keep.hint("shuffle_hash"), e["a"] == keep["node"], "left_semi")
            .join(keep.hint("shuffle_hash"), F.col("b") == keep["node"], "left_semi")
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(
        rows, "round int, n_nodes bigint, sym_degree_sum bigint, density double"
    )
