"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json for why each is there):
``medallion_incremental``, ``corpus_curation``, ``sensor_stream``.

All work runs on a ``local[4]`` engine session driven from this one
process by one client. With ``--trace 0`` the last stdout line carries
every end-to-end metric; with ``--trace 1`` it carries every per-layer
metric instead (spans recorded around calls into each layer from the
benchmark's own files, Spark's status-store counters and streaming
progress reports; a layer the workload does not use reads 0). Lines
before it, starting with ``#``, are run diagnostics. Inputs are
generated from the seed under a scratch directory in the checkout that
is deleted afterwards. Any failed operation or output check makes the
result ``correct: false`` and the exit code nonzero.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import check_metric_name, supported_percentile  # noqa: E402
from harness import CHECKOUT, Scratch, log, shutdown_jvm  # noqa: E402

WORKLOADS = ("medallion_incremental", "corpus_curation", "sensor_stream")


def load_spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    try:
        import smartpool_bigdata_spark  # noqa: F401
    except ImportError as exc:
        log(f"engine package not importable from {CHECKOUT}: {exc}")
        return 2
    spec = load_spec()

    if args.workload == "medallion_incremental":
        from wl_medallion import run as run_workload
    elif args.workload == "sensor_stream":
        from wl_stream import run as run_workload
    else:
        from wl_queries import run as run_workload

    scratch = Scratch()
    try:
        res = run_workload(args, scratch)
    finally:
        shutdown_jvm()
        scratch.close()

    lat = res.latencies
    if lat and not args.trace:
        res.metrics["latency_p50_s"] = statistics.median(lat)
    # A p90 needs ten samples beyond it; no workload reaches that within
    # one run, so it is a diagnostic rather than a declared metric.
    p90 = supported_percentile(lat, 0.9)
    res.diagnostics["latency_p90_s"] = p90 if p90 is not None else f"omitted ({len(lat)} samples)"
    res.diagnostics["failed_frac"] = res.failed / max(1, res.attempted)

    metrics, unused = {}, []
    for m in spec["per_layer"] if args.trace else spec["end_to_end"]:
        name = check_metric_name(m["name"])
        if name not in res.metrics:
            if not args.trace:
                log(f"missing end-to-end metric {name}")
                res.correct = False
                continue
            unused.append(name)
        metrics[name] = {"value": res.metrics.get(name, 0.0), "unit": m["unit"]}
    if unused:
        res.diagnostics["layers_not_used"] = unused
    for k, v in sorted(res.diagnostics.items()):
        print(f"# {k} = {v}")
    ok = bool(res.correct and res.failed == 0)
    print(json.dumps({
        "correct": ok,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": metrics,
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
