"""The driver's correctness gate as a parametrized test: every registry
query runs on Spark and its DuckDB oracle twin at sf0.001, compared on
schema + rowcount + order-insensitive values."""

from __future__ import annotations

import pytest

from smartpool_bigdata_spark.queries import REGISTRY
from tests.conftest import (
    SF_DIR,
    assert_matches_oracle,
    compare_snapshot_to_oracle,
    spark_snapshot,
)

# Queries whose build must run alone: jdbc_live_roundtrip boots the
# embedded Derby engine and must set its system properties before any
# other Derby use in the JVM (conftest gotcha), and the Python
# data-source queries race spark.dataSource.register against concurrent
# lookups (observed: DATA_SOURCE_NOT_FOUND for 'ledger' under the pool).
_SERIAL_FIRST = (
    "jdbc_live_roundtrip",
    "sensor_feed_stats",
    "sensor_feed_stream_stats",
    "ledger_roundtrip_stats",
    "ledger_time_travel_stats",
    "ledger_vacuum_stats",
)


def test_query_matches_oracle(spark, duck):
    """The driver's correctness gate over the FULL registry. The Spark
    side of every query is evaluated CONCURRENTLY from a small thread
    pool (guide §2.6 — independent actions overlap inside one session;
    r13: this sweep ran the 293 queries sequentially and dominated the
    suite wall time); the DuckDB oracle runs + comparisons stay on the
    main thread (duckdb connections are not thread-safe). Coverage is
    unchanged: same queries, same row/schema/type/value comparison."""
    from concurrent.futures import ThreadPoolExecutor

    names = [n for n in sorted(REGISTRY) if n not in _SERIAL_FIRST]

    def _spark_side(name):
        # Any error (Py4J, analysis, I/O) fails this query alone instead
        # of aborting the sweep.
        q = REGISTRY[name]
        try:
            sdf = q.build(spark, SF_DIR)
            if q.oracle is None:
                return name, None, sdf.count(), None
            return name, spark_snapshot(sdf), None, None
        except Exception as exc:
            return name, None, None, f"spark side: {type(exc).__name__}: {exc}"

    results = [_spark_side(n) for n in _SERIAL_FIRST if n in REGISTRY]
    with ThreadPoolExecutor(max_workers=12) as pool:
        results += list(pool.map(_spark_side, names))

    failures = {}
    for name, snapshot, rowcount, error in results:
        q = REGISTRY[name]
        try:
            if error is not None:
                raise AssertionError(error)
            if snapshot is None:
                assert rowcount >= 0  # rows-only check, like the driver
            else:
                compare_snapshot_to_oracle(snapshot, duck, q.oracle)
        except Exception as exc:  # collect all (DuckDB errors too), report together
            failures[name] = f"{type(exc).__name__}: {exc}"[:300]
    assert not failures, f"{len(failures)} queries off oracle: {failures}"


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(REGISTRY)

