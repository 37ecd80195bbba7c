"""Broadcast-growth audit: which queries broadcast frames that GROW
with the corpus?

A broadcast exchange is safe at 100 TB only if its row count is
bounded by construction (an aggregate to #days/#types/#strata rows, a
fixed spine, a capped top-K) or by a genuinely fixed dimension
(region/nation). A frame that broadcasts 10x the rows at 10x the data
is a linear-in-corpus broadcast — it works at test SF and OOMs the
executors at cluster scale, silently, because the plan LOOKS
broadcast-optimal.

This audit runs every batch registry query at two or three SFs with
AQE off (measurement shared with the CI guard —
smartpool_bigdata_spark/plans.py), reads the ``numOutputRows`` metric
of every BroadcastExchange in the executed plan, pairs them by plan
position, and reports per-broadcast growth per decade. Growth ~1x =
bounded (safe); growth ~= SF ratio = linear (flagged). Run:

    python scripts/broadcast_audit.py [sf_small sf_big [sf_huge]]

defaults: /root/testdata/sf0.01 /root/testdata/sf0.1 (10x). Pass the
path of an sf1 tier (10x sf0.1, all 10 tables) as the third
argument to verify "bounded" frames stay bounded across TWO decades:

    python scripts/broadcast_audit.py SF001_DIR SF01_DIR SF1_DIR

Output: one line per query with its per-broadcast row trajectories,
then a FLAGGED section listing broadcasts whose LAST decade's ratio
exceeds half the SF ratio and whose top-tier row count exceeds the
hazard floor (10k at sf0.1; 100k at sf1 — tiny frames wobble; a
50-row frame "growing" 5x is not a hazard).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smartpool_bigdata_spark.plans import broadcast_rows  # noqa: E402


def main() -> int:
    from smartpool_bigdata_spark.session import get_spark
    from smartpool_bigdata_spark.queries import REGISTRY

    tiers = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    assert len(tiers) >= 2, "need at least two SF dirs to measure growth"
    # hazard floor scales with the top tier: 10k rows at sf0.1, 100k at
    # a 10x-bigger third tier (same corpus coefficient either way)
    floor = 10_000 * (10 ** (len(tiers) - 2))
    spark = get_spark(app_name="broadcast-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    flagged = []
    for name, q in REGISTRY.items():
        if getattr(q, "skip_bench", False):
            continue
        try:
            per_tier = [broadcast_rows(spark, q.build, t) for t in tiers]
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            print(f"{name:40s} ERROR {str(e)[:80]}")
            continue
        top = per_tier[-1]
        if not top:
            continue
        paired = all(len(rows) == len(top) for rows in per_tier)
        if paired:
            trajs = list(zip(*per_tier))
            desc = " ".join("->".join(str(v) for v in tr) for tr in trajs)
        else:
            trajs = [(None,) * (len(tiers) - 1) + (t,) for t in top]
            desc = "UNPAIRED " + " ".join(str(t) for t in top)
        print(f"{name:40s} {desc}")
        for tr in trajs:
            s, t = tr[-2], tr[-1]
            if t > floor and (s is None or s == 0 or t / max(s, 1) > 5.0):
                flagged.append((name, tr))
        spark.catalog.clearCache()
    print(
        f"\nFLAGGED (broadcast rows grow ~linearly and exceed {floor}):"
    )
    for name, tr in flagged:
        print(f"  {name}: {' -> '.join(str(v) for v in tr)}")
    if not flagged:
        print("  none")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
