"""Measured shuffle-byte budgets as a regression gate.

scripts/shuffle_audit.py turned shuffle volume from an argument into a
number; this test turns the number into CI. It runs the audit's
measurement core over a fixed 36-query headline sample at sf0.01 and
asserts, per query, (a) ZERO spill bytes and (b) a shuffle-amplification
ceiling (shuffle_write / pruned_input) pinned from the round-9 measured
values x 1.5 — so a lost filter pushdown, a broadcast that silently
becomes a shuffle join, or a fan-out explosion fails here as BYTES, not
as a human re-reading SCALE.md.

The sample covers each amplification class the audit identified:
- the worst structural amplifier (similarity pair fan-out),
- the window/prefix-sum family (frame rows carry payload onto one
  shuffle: rolling-7d, AUC, equi-depth histogram),
- the d^2 moment family (pca — ratio is scan-independent by design),
- honest big-big joins (Q13, Q21) and broadcast-dim joins (Q5, Q2,
  Q20, Q15) where the ratio must stay O(1),
- iterative graph queries (pagerank, BFS) whose checkpoint re-scans
  dominate INPUT, keeping their ratio low,
- salted aggregates and the LSH vs exact dedup tiers.

Ceilings are per-query because the classes differ by 4 orders of
magnitude: a global cap loose enough for the pair fan-out (1210x)
would hide a 100x regression in a query that should shuffle 0.1x.
Ratios for queries with tiny pruned inputs (< ~1 MB) wobble more, so
every ceiling also carries +0.5 absolute slack on top of the x1.5.
"""

from __future__ import annotations

import pytest

from scripts.shuffle_audit import measure

SF_DIR_BUDGET = "/root/testdata/sf0.01"

# query -> shuffle_ratio measured in round 9 (sf0.01, local[8], AQE on,
# 8 shuffle partitions — the same session shape this suite runs).
MEASURED_RATIO = {
    "pricing_summary": 109.982,
    "customer_similarity_topk": 1210.025,
    "sole_late_supplier_waitlist": 10.836,
    "user_value_rolling_7d": 80.183,
    "customer_order_count_distribution": 0.855,
    "local_supplier_revenue": 0.023,
    "priority_revenue_salted_join": 0.054,
    "doc_near_dup_pairs": 0.001,
    "doc_exact_dedup": 3.602,
    "knn_brute_force": 72.617,
    "embedding_pca_whitened": 94.727,
    "purchase_graph_pagerank": 0.173,
    # salted two-stage agg with the autotuner's bucket count (20-21 at
    # sf0.001-sf0.1 for the 5 hot event types); measured at sf0.01 with
    # scripts/shuffle_audit.py, equal over two runs
    "event_type_stats_autotuned": 5.17,
    "events_in_incident_windows": 1.632,
    "doc_bm25_topk": 0.08,
    "event_value_equidepth_hist": 28.86,
    "classifier_auc_eval": 33.179,
    "llm_corpus_pipeline": 58.441,
    "min_cost_region_supplier": 4.803,
    "small_part_hoarding_suppliers": 3.445,
    "top_revenue_supplier": 0.227,
    # second r9 batch (measured at birth, same session shape):
    # skyline's ratio is the tiny distinct-price agg + frontier
    # broadcast over a 2-column scan; ER's is the blocked pair
    # fan-out (structural, bounded by block sizes); OLS and the
    # conformal selection are near-zero by design (moments + bands)
    "part_price_size_skyline": 3.619,
    "event_value_ols2": 0.04,
    "order_conformal_interval": 0.206,
    "customer_er_match_scores": 15.758,
    # (user, day) journey agg on a 2-column scan; ratio is the tiny
    # mask/coalition tables, absolute bytes 0.07 MB
    "channel_shapley_attribution": 21.648,
    # one cell agg + 120-row family windows, absolute bytes 0.01 MB
    "hourly_value_bh_fdr": 1.1,
    # same blocked pair join as the scorer, then the unrolled 1-row
    # em0..em10 CTE chain (the oracle keeps WITH RECURSIVE)
    "customer_er_em_params": 16.105,
    # blocked pair join + star-contraction CC rounds, 0.12 MB absolute
    # (re-measured r10 after pinning the post-checkpoint joins to
    # shuffle-hash — the broadcast they replace was a test-SF artifact)
    "customer_er_entity_clusters": 10.745,
    # journey window pass + transition agg, 0.56 MB absolute
    "channel_markov_attribution": 7.908,
    # one day agg, then #days-frame lag joins — near-zero bytes
    "daily_value_acf": 0.378,
    # single-pass conditional aggregates — near-zero bytes
    "order_total_ht_estimate": 0.03,
    "order_neyman_allocation": 0.176,
    "order_capture_recapture": 0.021,
    # the 5-gram explode IS the shuffle (vocab agg of exploded grams
    # over a 0.003 MB pruned text scan); absolute bytes 0.63 MB
    "vocab_good_turing": 184.299,
    # bfs_hops frontier loop: one edge join + distinct + anti-join per
    # hop over a shrinking frontier, pinning the checkpoint-scan
    # traversal ratio (Spark's native recursive-CTE UnionLoop over the
    # same graph re-emitted every reachable node per level — 72.057
    # ratio, 9.7 MB absolute)
    "segment_reach_bfs": 0.107,
    # log2(key)-level ancestor chain: each level joins a shrinking
    # frontier against broadcast orders; 0.31 MB absolute
    "order_ancestor_chain_cte": 2.881,
    # r10 reshapes, pinned at birth: RFM's three distributed prefix-sum
    # rank passes (range exchange each) over the per-customer frame,
    # 0.39 MB absolute; returned_item_losses' dim join now shuffle-hash
    # (the forced customer broadcast was the 100 TB OOM the broadcast
    # audit removed), 0.73 MB absolute
    "customer_rfm_segments": 10.971,
    "returned_item_losses": 9.132,
}

HEADROOM = 1.5
ABS_SLACK = 0.5


@pytest.fixture(scope="module")
def audit_rows(spark):
    rows = measure(spark, SF_DIR_BUDGET, list(MEASURED_RATIO))
    return {r["query"]: r for r in rows}


def test_no_query_errors(audit_rows):
    errs = {n: r["error"] for n, r in audit_rows.items() if "error" in r}
    assert not errs, f"audit sample failed to run: {errs}"


def test_zero_spill(audit_rows):
    """No partition of any sampled query may overflow executor memory
    at sf0.01 — the round-8 sweep measured zero spill across 199
    queries; a nonzero value here means a partition-sizing regression."""
    spilled = {
        n: r["spill_mb"]
        for n, r in audit_rows.items()
        if "error" not in r and r["spill_mb"] > 0
    }
    assert not spilled, f"spill detected: {spilled}"


def test_shuffle_ratio_ceilings(audit_rows):
    over = {}
    for name, measured in MEASURED_RATIO.items():
        r = audit_rows[name]
        if "error" in r:
            continue  # reported by test_no_query_errors
        ceiling = measured * HEADROOM + ABS_SLACK
        if r["shuffle_ratio"] > ceiling:
            over[name] = (r["shuffle_ratio"], ceiling)
    assert not over, (
        "shuffle amplification over pinned budget (got, ceiling): "
        f"{over} — a lost pushdown/broadcast or a join fan-out; "
        "re-measure with scripts/shuffle_audit.py and fix the plan "
        "before touching the ceiling"
    )
