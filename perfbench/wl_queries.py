"""``corpus_curation``: a closed loop with one client cycling a fixed mix
of ``ops.text`` / ``ops.vectors`` / ``ops.multimodal`` registry queries
in seed-shuffled order.

Operation: ``Query.build`` plus collecting the result to the client, so
every timed result can be checked. Every cycle runs each query of the mix
once, so each query weighs the same in the latency distribution whatever
the seed; the window ends with the cycle in which ``--seconds`` ran out,
after at least three cycles.

Set-up is the session start plus one warm-up run of every query of the
mix. Checks, outside every timed interval and outside ``setup_s``: before
the session starts, each query's registry DuckDB oracle runs over the
same generated inputs; every warm-up and timed result is compared with
that oracle's digest. A wrong timed result counts as a failed operation.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import datagen
from common import Patcher, Result, Tracer, result_digest
from harness import (StatusStore, canaries, catalyst_phases, log, release_caches,
                     rss_mb, start_session)

# An LSH banding self-join over documents, a vector near-duplicate
# self-join over embeddings, and the Arrow/Python-worker path (audio
# stats). Three queries keep set-up (one cold run of each) and a cycle
# short; three cycles give nine samples, and the median is then the
# middle query's middle sample.
MIX = ["audio_pcm_chunk_stats", "doc_near_dup_pairs", "embedding_near_dup"]
# Input scale: documents 250 and embeddings 250 rows.
SCALE = 0.005
MIN_CYCLES = 3
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _registry():
    import smartpool_bigdata_spark.queries_text  # noqa: F401  (registers)
    import smartpool_bigdata_spark.queries_vectors  # noqa: F401
    from smartpool_bigdata_spark.queries import REGISTRY

    return REGISTRY


def _collect(spark, data: str, query):
    """One operation: build the query and collect its result."""
    df = query.build(spark, data)
    return df.collect(), df.columns


def _digest(rows, columns) -> str:
    return result_digest([r.asDict(recursive=True) for r in rows], columns)


def _oracle_digest(con, query) -> str:
    tbl = con.execute(query.oracle).fetch_arrow_table()
    return result_digest(tbl.to_pylist(), tbl.column_names)


def _instrument(tracer: Tracer, patcher: Patcher) -> None:
    """Count and time ``catalog.load_table`` wherever the registry
    modules bound it."""
    import sys

    from smartpool_bigdata_spark import catalog

    orig = catalog.load_table
    traced = tracer.wrap(orig, "catalog.load_table", counter="catalog.load_table_calls")
    for name, mod in list(sys.modules.items()):
        if name.startswith("smartpool_bigdata_spark") and getattr(mod, "load_table", None) is orig:
            patcher.set(mod, "load_table", traced)


def _window(spark, data, mix, registry, seconds, rng, want, res, tracer=None):
    """Run whole shuffled cycles, at least ``MIN_CYCLES``, until
    ``seconds`` ran out; returns the per-op latencies and the window's
    wall time."""
    lat: list[float] = []
    res.per_query = {n: [] for n in mix}
    t_start = time.perf_counter()
    cycles = 0
    while cycles < MIN_CYCLES or time.perf_counter() - t_start < seconds:
        cycles += 1
        order = list(mix)
        rng.shuffle(order)
        for name in order:
            release_caches(spark)
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    rows, cols = _collect(spark, data, registry[name])
                else:
                    tracer.op = res.attempted
                    with tracer.span("op"):
                        with tracer.span("queries.build"):
                            df = registry[name].build(spark, data)
                        with tracer.span("catalyst"):
                            for ph, s in catalyst_phases(df).items():
                                tracer.count(f"catalyst.{ph}_s", s)
                        with tracer.span("exec"):
                            rows, cols = df.collect(), df.columns
            except Exception as exc:  # a failed operation is counted, not fatal
                res.failed += 1
                log(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            lat.append(time.perf_counter() - t0)
            res.per_query[name].append(lat[-1])
            if _digest(rows, cols) != want[name]:
                res.failed += 1
                log(f"{name}: result differs from the DuckDB oracle")
    return lat, time.perf_counter() - t_start


def run(args, scratch) -> Result:
    import duckdb

    res = Result()
    data = scratch.path("data")
    datagen.write_star_schema(data, args.seed, SCALE)
    registry = _registry()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
    want = {name: _oracle_digest(con, registry[name]) for name in MIX}
    con.close()

    t0 = time.perf_counter()  # JVM launch to the end of warm-up
    spark = start_session(scratch)
    setup_s = time.perf_counter() - t0
    for name in MIX:  # warm-up: first scans, codegen, the Python worker pool
        release_caches(spark)
        t0 = time.perf_counter()
        rows, cols = _collect(spark, data, registry[name])
        setup_s += time.perf_counter() - t0
        if _digest(rows, cols) != want[name]:
            log(f"{name}: warm-up result differs from the DuckDB oracle")
            res.correct = False

    rng = random.Random(args.seed)
    tracer = patcher = None
    if args.trace:
        # Untraced window first: the traced one's difference is the overhead.
        plain, _ = _window(spark, data, MIX, registry, args.seconds, rng, want, Result())
        tracer, patcher = Tracer(), Patcher()
        _instrument(tracer, patcher)
        store = StatusStore(spark)
        mark = store.mark()
    try:
        lat, window = _window(spark, data, MIX, registry, args.seconds, rng, want, res, tracer)
    finally:
        if patcher is not None:
            patcher.restore()

    n = max(1, res.attempted)
    if not args.trace:
        res.metrics = {
            "setup_s": setup_s,
            "ops_per_s": len(lat) / window,
            "peak_rss_mb": rss_mb(),
        }
    else:
        counters = store.window(mark)
        res.metrics = {k: v / n for k, v in counters.items()}
        res.metrics.update({k: v / n for k, v in tracer.counts.items()})
        for span, metric in (("queries.build", "queries.build_s"), ("exec", "exec_s")):
            res.metrics[metric] = statistics.median(tracer.durations(span))
        res.metrics["trace.overhead_s"] = statistics.median(lat) - statistics.median(plain)
        res.diagnostics.update(canaries(spark))
        res.diagnostics.update({f"self_s.{k}": round(v, 4) for k, v in tracer.self_times().items()})
        res.diagnostics["spans_file"] = scratch.keep_spans(tracer, args)
    res.diagnostics["per_query_s"] = {
        n: round(statistics.median(v), 3) for n, v in res.per_query.items() if v}
    res.latencies = lat
    res.diagnostics["samples"] = len(lat)
    release_caches(spark)
    spark.stop()
    return res
