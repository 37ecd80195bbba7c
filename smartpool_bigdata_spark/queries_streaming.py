"""Streaming queries for the driver correctness gate.

Each entry materializes a REAL Structured Streaming run (file source →
``Trigger.AvailableNow`` → memory sink) and returns the drained result as a
batch DataFrame — so the driver's DuckDB comparison checks actual streaming
semantics, not a batch twin.

The watermarked-window oracle is exact because Spark's AvailableNow runs a
final flush micro-batch: the emitted set is precisely the windows whose end
<= max(event_time) − watermark delay (validated empirically on pyspark
4.1), which is plain SQL over the same input.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartpool_bigdata_spark.catalog import load_table
from smartpool_bigdata_spark.functions import stable_avg
from smartpool_bigdata_spark.queries import query
from smartpool_bigdata_spark.streaming import (
    event_time_ltz,
    file_stream,
    run_available_now,
    stream_static_enrich,
    watermarked_tumbling_agg,
)


def _stream_events(spark: SparkSession, sf_dir: str, cols) -> tuple[DataFrame, str]:
    """Events table staged to a tmp dir and opened as a file stream.

    ``ts`` is cast NTZ→LTZ before staging (event_time_ltz): the testdata
    parquet stores naive µs timestamps, and watermarking needs TIMESTAMP.
    """
    ev = load_table(spark, sf_dir, "events").select(*cols)
    if "ts" in ev.columns:
        ev = event_time_ltz(ev, "ts")
    stage = tempfile.mkdtemp(prefix="spark_stream_src_")
    src = os.path.join(stage, "events")
    ev.write.parquet(src)
    return file_stream(spark, src, ev.schema), stage


def _staged_batches(frames, part_col: str, prefix: str) -> tuple[str, str]:
    """Stage each frame as ONE file under ``{part_col}={i}`` with strictly
    increasing mtimes, so ``maxFilesPerTrigger=1`` replays them as
    deterministic micro-batches in list order — the file-order pin is
    LOAD-BEARING for every multi-batch semantics gate (equal mtimes
    would let the source reorder batches). Shared by the r8 update-mode
    and dedup-reappearance gates; stream_user_sessions keeps its older
    flat-file variant (its gate schema has no partition column).
    Returns (stage_root_to_rm, source_dir)."""
    import time as _time

    stage = tempfile.mkdtemp(prefix=prefix)
    src = os.path.join(stage, "src")
    os.makedirs(src)
    now = _time.time()
    for i, frame in enumerate(frames):
        d = os.path.join(src, f"{part_col}={i}")
        frame.coalesce(1).write.parquet(d)
        for fn in os.listdir(d):
            os.utime(os.path.join(d, fn), (now + 60 * i, now + 60 * i))
    return stage, src


@query(
    "stream_event_hourly_window",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events)
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                 / count(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    HAVING window_start + INTERVAL 1 HOUR <= (SELECT cut FROM wm)
    """,
    description="REAL streaming run of the watermarked 1-hour tumbling agg "
    "(T1/T2/T3): file source -> withWatermark('1 hour') -> window agg -> "
    "append-mode memory sink, drained with Trigger.AvailableNow. Emitted "
    "set == windows closed by the final watermark — exact SQL oracle. "
    "Mirrors spark-apps/07_kafka_smartpool_sensors.py:89,104-141.",
    skip_bench=True,  # staging write + stream startup dominates; batch twin is benched
)
def stream_event_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, stage = _stream_events(spark, sf_dir, ["ts", "event_type", "value"])
    agg = watermarked_tumbling_agg(
        stream,
        ts_col="ts",
        watermark="1 hour",
        duration="1 hour",
        keys=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "avg_value": stable_avg("value", 4),
        },
    )
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(agg.drop("window_end"), name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    # post-drain (batch side): relabel LTZ back to NTZ so the emitted type
    # matches the naive-timestamp oracle exactly, like every batch query
    return spark.table(name).withColumn(
        "window_start", F.col("window_start").cast("timestamp_ntz")
    )


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
    description="Streaming exact dedup (dropDuplicatesWithinWatermark, "
    "Spark 3.5+ bounded-state semantics): the source is events UNIONed "
    "with itself (every row duplicated, same event time -> always within "
    "the watermark), streamed and deduped by event_id; the drained result "
    "must equal DISTINCT over the original rows. State is GC'd as the "
    "watermark advances — the streaming twin of dedupe_exact.",
    skip_bench=True,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.streaming import dedup_stream

    ev = event_time_ltz(
        load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        ),
        "ts",
    )
    doubled = ev.union(ev)
    stage = tempfile.mkdtemp(prefix="spark_dedup_src_")
    src = os.path.join(stage, "src")
    doubled.write.parquet(src)
    stream = file_stream(spark, src, doubled.schema)
    deduped = dedup_stream(
        stream, ["event_id"], ts_col="ts", watermark="1 hour", within_watermark=True
    )
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(deduped, name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "stream_user_sessions",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    rollup AS (
        SELECT user_id, session_id, count(*) AS n,
               min(ts) AS s, max(ts) AS e
        FROM sessions GROUP BY user_id, session_id
    ),
    last AS (SELECT user_id, max(session_id) AS last_id FROM rollup GROUP BY user_id),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT r.user_id AS key,
           CAST(r.s AS TIMESTAMP) AS session_start,
           CAST(r.e AS TIMESTAMP) AS session_end,
           r.n AS n_events
    FROM rollup r JOIN last ON r.user_id = last.user_id, wm
    WHERE r.session_id < last.last_id
       OR r.e + INTERVAL 30 MINUTE < wm.w
    """,
    description="REAL custom stateful streaming run (applyInPandasWithState "
    "+ event-time timeout): gap-based sessionization, one open session per "
    "key in state, emitted on observed gap or when the watermark passes "
    "end+gap. Emitted set is exactly SQL-expressible: every non-last "
    "session per key plus last sessions with end+gap < final watermark — "
    "validated equal at sf0.001 and sf0.01. State is one row per live key.",
    skip_bench=True,
)
def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os as _os

    from smartpool_bigdata_spark.streaming.stateful import sessionize_stream

    ev = event_time_ltz(
        load_table(spark, sf_dir, "events").select("user_id", "ts"), "ts"
    )
    stage = tempfile.mkdtemp(prefix="spark_sess_src_")
    src = _os.path.join(stage, "src")
    _os.makedirs(src)
    # two chronological files -> the watermark advances mid-stream, so both
    # close paths (observed gap AND event-time timeout) are exercised
    for i, cond in enumerate(["dayofmonth(ts) <= 15", "dayofmonth(ts) > 15"]):
        sdir = _os.path.join(src, f"_s{i}")
        ev.filter(cond).coalesce(1).write.parquet(sdir)
        part = glob.glob(_os.path.join(sdir, "*.parquet"))[0]
        dst = _os.path.join(src, f"{i:02d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(sdir)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = file_stream(
        spark, src + "/*.parquet", ev.schema, max_files_per_trigger=1
    )
    sess = sessionize_stream(stream, "user_id", "ts", gap_seconds=1800, watermark="1 hour")
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(sess, name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return (
        spark.table(name)
        .withColumn("session_start", F.col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
    )


@query(
    "stream_static_segment_counts",
    oracle="""
    SELECT coalesce(c.c_mktsegment, 'unknown') AS segment,
           count(*) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    description="REAL streaming run of stream-static enrichment (J6/T9): "
    "events stream left-joined per micro-batch to the broadcast customer "
    "dim (no streaming state, no stream-side shuffle), drained via "
    "AvailableNow, then aggregated. Mirrors "
    "spark-apps/07_kafka_smartpool_sensors.py:144-151.",
    skip_bench=True,
)
def stream_static_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, stage = _stream_events(spark, sf_dir, ["event_id", "user_id", "value"])
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream_static_enrich(
        stream, cust, on=stream["user_id"] == cust["c_custkey"], how="left"
    ).select(
        F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment"), "value"
    )
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(enriched, name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return (
        spark.table(name)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
    )


@query(
    "stream_merge_upsert_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY event_type
    """,
    description="REAL streaming MERGE (T4/T6 + S13 composed): the silver "
    "table is pre-seeded with STALE rows (half the events, value "
    "poisoned to -1), then the fresh events stream in across ~4 "
    "micro-batches (maxFilesPerTrigger rate limiting) through "
    "foreachBatch + merge_upsert on event_id, Trigger.AvailableNow. The "
    "oracle is plain SQL over the ORIGINAL rows, so green proves every "
    "stale row was overwritten, every fresh row landed exactly once, and "
    "batch-boundary re-merges stayed idempotent — the "
    "continuously-maintained-Silver pattern of the reference's job 07, "
    "upgraded from append to upsert.",
    skip_bench=True,  # staging + stream startup dominates
)
def stream_merge_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.sinks import merge_upsert
    from smartpool_bigdata_spark.streaming.runner import start_foreach_batch_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    stage = tempfile.mkdtemp(prefix="spark_stream_merge_")
    src = os.path.join(stage, "src")
    silver = os.path.join(stage, "silver")
    ckpt = os.path.join(stage, "ckpt")
    # 8 source files + maxFilesPerTrigger=2 → ~4 micro-batches
    ev.repartition(8).write.parquet(src)
    stale = ev.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", F.lit(-1.0)
    )
    merge_upsert(spark, silver, stale, keys=["event_id"])

    stream = file_stream(spark, src, ev.schema, max_files_per_trigger=2)
    q = start_foreach_batch_upsert(
        stream,
        target_path=silver,
        keys=["event_id"],
        checkpoint=ckpt,
        trigger={"availableNow": True},
        query_name="silver_merge",
    )
    try:
        if not q.awaitTermination(180):
            q.stop()
        landed = spark.read.parquet(silver)
        out = landed.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("total_value"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "stream_session_windows",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ),
    f AS (
        SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
        FROM o
    ),
    g AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM f
    ),
    sess AS (
        SELECT user_id,
               CAST(min(ts) AS TIMESTAMP) AS session_start,
               CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
        FROM g GROUP BY user_id, sid
    ),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT s.* FROM sess s, wm WHERE s.session_end <= wm.w
    """,
    description="REAL streaming run of Spark's NATIVE session_window "
    "(gap 30 min) with a 1-hour watermark, append mode, drained via "
    "AvailableNow: emitted set == sessions whose end (last event + gap) "
    "<= final watermark — the built-in-operator twin of the custom "
    "applyInPandasWithState sessionizer (stream_user_sessions), which "
    "also emits observed-gap closes the native operator holds in state. "
    "Oracle: gaps-and-islands SQL + the watermark cut. State: one "
    "merged window per open (user, session).",
    skip_bench=True,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum

    stream, stage = _stream_events(spark, sf_dir, ["user_id", "ts", "value"])
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(agg, name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return (
        spark.table(name)
        .withColumn("session_start", F.col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
    )


@query(
    "stream_view_purchase_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 4 HOUR
     AND v.ts <= p.ts
    WHERE p.event_type = 'purchase'
    """,
    description="REAL stream-stream inner join (beyond the reference's "
    "stream-static surface): the purchases stream joins the views stream "
    "on user_id with views in the 4 hours up to each purchase. Both "
    "sides watermarked; the event-time range bound is what lets Spark GC "
    "join state (without it every row buffers forever). Under "
    "Trigger.AvailableNow an inner join emits exactly the matching "
    "pairs, so the oracle is the plain batch SQL join — the batch twin "
    "of this exact plan is views_before_purchase's binned equi-join.",
    skip_bench=True,  # staging + two stream sources dominate
)
def stream_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.streaming import stream_stream_join

    ev = event_time_ltz(
        load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        ),
        "ts",
    )
    stage = tempfile.mkdtemp(prefix="spark_ssj_src_")
    p_src = os.path.join(stage, "purchases")
    v_src = os.path.join(stage, "views")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("vts"),
    )
    purchases.write.parquet(p_src)
    views.write.parquet(v_src)
    p_stream = file_stream(spark, p_src, purchases.schema)
    v_stream = file_stream(spark, v_src, views.schema)
    joined = stream_stream_join(
        p_stream,
        v_stream,
        on=F.col("p_user") == F.col("v_user"),
        left_ts="pts",
        right_ts="vts",
        left_watermark="1 hour",
        right_watermark="1 hour",
        max_lag="4 hours",
    ).select("purchase_id", "view_id")
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(joined, name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name)


@query(
    "stream_purchase_attribution_outer",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    wm AS (
        SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM v))
               - INTERVAL 1 HOUR AS w
    )
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM p LEFT JOIN v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 4 HOUR
     AND v.ts <= p.ts, wm
    WHERE v.event_id IS NOT NULL OR p.ts < wm.w
    """,
    description="REAL stream-stream LEFT OUTER join: every matched "
    "(purchase, view-within-4h) pair emits on match; an unmatched "
    "purchase emits with NULL only once the watermark proves no view "
    "can still arrive — i.e. its state is evicted when pts < watermark, "
    "where the engine's watermark is the MIN across both sources' "
    "watermarks (multipleWatermarkPolicy=min, both = max(side ts) − 1h "
    "under AvailableNow). The strict '<' comes from Spark's "
    "WatermarkSupport.watermarkExpression (sql/core/.../streaming/"
    "statefulOperators.scala), which builds 'ts <= watermarkMs - 1' for "
    "state eviction; the boundary (a purchase exactly AT the final "
    "watermark stays in state) is pinned by tests/test_streaming.py::"
    "test_outer_join_null_emission_boundary_is_strict so a Spark upgrade "
    "that shifts it fails in tests, not flakily in this oracle. "
    "Purchases newer than the final watermark stay in state, unemitted — "
    "exactly the rows the oracle excludes. The outer twin of "
    "stream_view_purchase_join.",
    skip_bench=True,
)
def stream_purchase_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.streaming import stream_stream_join

    ev = event_time_ltz(
        load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        ),
        "ts",
    )
    stage = tempfile.mkdtemp(prefix="spark_ssjo_src_")
    p_src = os.path.join(stage, "purchases")
    v_src = os.path.join(stage, "views")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("vts"),
    )
    purchases.write.parquet(p_src)
    views.write.parquet(v_src)
    p_stream = file_stream(spark, p_src, purchases.schema)
    v_stream = file_stream(spark, v_src, views.schema)
    joined = stream_stream_join(
        p_stream,
        v_stream,
        on=F.col("p_user") == F.col("v_user"),
        left_ts="pts",
        right_ts="vts",
        left_watermark="1 hour",
        right_watermark="1 hour",
        max_lag="4 hours",
        how="left_outer",
    ).select("purchase_id", "view_id")
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(joined, name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name)


@query(
    "stream_dq_quarantine",
    oracle="""
    WITH planted AS (
        SELECT event_id, event_type, value FROM events
        UNION ALL
        SELECT event_id + 1000000000, event_type, -value
        FROM events WHERE event_id % 7 = 3
        UNION ALL
        SELECT event_id + 2000000000, 'bogus', value
        FROM events WHERE event_id % 7 = 5
    ),
    routed AS (
        SELECT *,
               CASE WHEN value < 0 THEN 'neg_value'
                    WHEN event_type NOT IN
                         ('signup','click','error','view','purchase')
                         THEN 'bad_type'
                    ELSE 'clean' END AS disposition
        FROM planted
    )
    SELECT disposition,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_value
    FROM routed GROUP BY disposition
    """,
    description="STREAMING data-quality routing (the in-flight form of "
    "the expectations gate): events with planted invalid rows (negative "
    "values, unknown event types) drain through foreachBatch + "
    "expectations.quarantine_split — ordered rules, first match wins, "
    "so every row lands in exactly one bucket — with valid rows MERGEd "
    "into the clean table and flagged rows (carrying dq_reason) into "
    "the quarantine table, both keyed on event_id so batch replays are "
    "idempotent. The oracle replays the routing in SQL over the same "
    "planted corpus: green proves no row was lost, duplicated, or "
    "mis-routed across micro-batch boundaries — bad data is preserved "
    "for triage instead of poisoning the clean table or killing the "
    "stream.",
    skip_bench=True,  # staging write + stream startup dominates
)
def stream_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.streaming.runner import (
        start_foreach_batch_quarantine,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    bad_val = ev.filter(F.col("event_id") % 7 == 3).select(
        (F.col("event_id") + 1_000_000_000).alias("event_id"),
        "event_type",
        (-F.col("value")).alias("value"),
    )
    bad_type = ev.filter(F.col("event_id") % 7 == 5).select(
        (F.col("event_id") + 2_000_000_000).alias("event_id"),
        F.lit("bogus").alias("event_type"),
        "value",
    )
    planted = ev.unionByName(bad_val).unionByName(bad_type)
    stage = tempfile.mkdtemp(prefix="spark_dq_stream_")
    src = os.path.join(stage, "src")
    clean = os.path.join(stage, "clean")
    quar = os.path.join(stage, "quarantine")
    ckpt = os.path.join(stage, "ckpt")
    planted.repartition(4).write.parquet(src)
    try:
        stream = file_stream(
            spark, src, planted.schema, max_files_per_trigger=1
        )
        q = start_foreach_batch_quarantine(
            stream,
            clean,
            quar,
            rules=[
                ("neg_value", F.col("value") < 0),
                (
                    "bad_type",
                    ~F.col("event_type").isin(
                        "signup", "click", "error", "view", "purchase"
                    ),
                ),
            ],
            keys=["event_id"],
            checkpoint=ckpt,
            trigger={"availableNow": True},
            query_name="dq_quarantine",
        )
        if not q.awaitTermination(240):
            q.stop()
        clean_df = spark.read.parquet(clean).select(
            F.lit("clean").alias("disposition"), "value"
        )
        quar_df = spark.read.parquet(quar).select(
            F.col("dq_reason").alias("disposition"), "value"
        )
        out = (
            clean_df.unionByName(quar_df)
            .groupBy("disposition")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                stable_sum("value", 2).alias("total_value"),
            )
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "stream_multihop_topology",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_value,
           round(CAST(sum(CAST(value * 0.1 AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_fee,
           'ok' AS ingest_check,
           'ok' AS stop_check
    FROM events
    WHERE event_type <> 'error'
    GROUP BY event_type
    """,
    description="T5+T7+T8 end-to-end: THREE CONCURRENT streaming queries "
    "chained off one lineage — raw file stream -> bronze parquet, "
    "bronze-as-stream -> silver (error rows filtered), silver-as-stream "
    "-> gold (fee enrichment) — each with its own checkpoint, exactly "
    "the reference's multi-query topology "
    "(spark-apps/07_kafka_smartpool_sensors.py:76-160) built the "
    "S8/Delta-chaining way (downstream reads the upstream FILE SINK's "
    "_spark_metadata log, so the hops are replayable). The driver query "
    "polls gold until the topology converges, then gracefully stops all "
    "three (T7, streaming/runner.py:stop_all) and folds two runtime "
    "facts into oracle-locked literals: ingest_check = the bronze "
    "query's summed lastProgress.numInputRows over distinct batchIds "
    "equals the source row count (T8 observability, every row input "
    "exactly once), stop_check = all three queries actually terminated. "
    "A lost micro-batch, double-ingest, or hung stop flips a literal to "
    "BROKEN and fails the value hash. Sequential-chain correctness is "
    "separately gated by the stream_* family; this row gates the "
    "CONCURRENT topology.",
    skip_bench=True,  # stream startup x3 + convergence poll dominate
)
def stream_multihop_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.streaming.runner import stop_all

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n_expected = ev.filter(F.col("event_type") != "error").count()
    stage = tempfile.mkdtemp(prefix="spark_multihop_")
    try:
        src = os.path.join(stage, "src")
        bronze = os.path.join(stage, "bronze")
        silver = os.path.join(stage, "silver")
        gold = os.path.join(stage, "gold")
        ev.repartition(4).write.parquet(src)
        schema = "event_id bigint, event_type string, value double"

        q1 = (
            file_stream(spark, src, schema, max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", bronze)
            .option("checkpointLocation", os.path.join(stage, "ck1"))
            .trigger(processingTime="200 milliseconds")
            .queryName("hop_bronze")
            .start()
        )
        q2 = (
            file_stream(spark, bronze, schema)
            .filter(F.col("event_type") != "error")
            .writeStream.format("parquet")
            .option("path", silver)
            .option("checkpointLocation", os.path.join(stage, "ck2"))
            .trigger(processingTime="200 milliseconds")
            .queryName("hop_silver")
            .start()
        )
        q3 = (
            file_stream(spark, silver, schema)
            .withColumn("fee", F.col("value") * 0.1)
            .writeStream.format("parquet")
            .option("path", gold)
            .option("checkpointLocation", os.path.join(stage, "ck3"))
            .trigger(processingTime="200 milliseconds")
            .queryName("hop_gold")
            .start()
        )
        queries = [q1, q2, q3]

        def gold_count() -> int:
            try:
                return spark.read.parquet(gold).count()
            except Exception:
                return -1

        deadline = time.monotonic() + 120
        while gold_count() != n_expected and time.monotonic() < deadline:
            time.sleep(0.5)
        converged = gold_count() == n_expected

        # T8: every source row entered the bronze hop exactly once
        seen: dict[int, int] = {}
        for p in q1.recentProgress:
            if p and p.get("batchId") is not None:
                seen[p["batchId"]] = p.get("numInputRows", 0)
        rows_in = sum(seen.values())
        n_src = ev.count()

        stop_all(queries)  # T7: graceful stop + bounded awaitTermination
        stopped = all(not q.isActive for q in queries)

        ingest_check = "ok" if (converged and rows_in == n_src) else "BROKEN"
        stop_check = "ok" if stopped else "BROKEN"
        out = (
            spark.read.parquet(gold)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                stable_sum("value", 2).alias("total_value"),
                stable_sum("fee", 2).alias("total_fee"),
            )
            .withColumns(
                {
                    "ingest_check": F.lit(ingest_check),
                    "stop_check": F.lit(stop_check),
                }
            )
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "stream_event_sliding_window",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events),
    slots AS (
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR * o.o AS window_start,
               event_type, value
        FROM events, (SELECT 0 AS o UNION ALL SELECT 1) o
    )
    SELECT window_start, event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                 / count(value), 4) AS avg_value
    FROM slots GROUP BY 1, 2
    HAVING window_start + INTERVAL 2 HOUR <= (SELECT cut FROM wm)
    """,
    description="REAL streaming run of a watermarked SLIDING (hopping) "
    "window aggregate — 2-hour windows hopping hourly, the 'last 2h "
    "refreshed hourly' dashboard view (ops.relational.sliding_agg; the "
    "overlap upgrade of stream_event_hourly_window's tumble): file "
    "source -> withWatermark('1 hour') -> window(ts, '2 hours', "
    "'1 hour') agg -> append-mode memory sink drained with "
    "Trigger.AvailableNow. Every event lands in exactly TWO windows and "
    "the emitted set is exactly the windows closed by the final "
    "watermark; the oracle replays the 2-slot expansion and the "
    "watermark cut in plain SQL, so overlap arithmetic and append "
    "semantics are both value-locked.",
    skip_bench=True,  # staging write + stream startup dominates
)
def stream_event_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import sliding_agg

    stream, stage = _stream_events(spark, sf_dir, ["ts", "event_type", "value"])
    agg = sliding_agg(
        stream.withWatermark("ts", "1 hour"),
        ts_col="ts",
        duration="2 hours",
        slide="1 hour",
        keys=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "avg_value": stable_avg("value", 4),
        },
    )
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(agg.drop("window_end"), name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name).withColumn(
        "window_start", F.col("window_start").cast("timestamp_ntz")
    )


@query(
    "stream_cdf_matview",
    oracle="""
    WITH final AS (
        SELECT o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 3 != 0 AND o_orderkey % 2 = 1
        UNION ALL
        SELECT o_orderpriority, o_totalprice + 1.5
        FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS view_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS view_sum
    FROM final GROUP BY o_orderpriority
    """,
    description="Incremental MATERIALIZED-VIEW maintenance from the "
    "change data feed, AS A STREAM (the downstream half of "
    "merge_upsert_cdf): two MERGE commits (initial load, then a "
    "price-revising upsert) write their row-level diffs to the feed; a "
    "file stream drains the feed in rate-limited micro-batches through "
    "foreachBatch, reducing each batch to a per-priority ADDITIVE delta "
    "(+insert +postimage -preimage) MERGEd into a (batch, group)-keyed "
    "delta log — exactly-once under replay, O(changes) per batch, the "
    "base table never re-read. The served view folds the delta log; "
    "the oracle aggregates the FINAL table state directly, so green "
    "proves the maintained view is bit-identical to a from-scratch "
    "aggregate (decimal accumulation makes pre/post terms cancel "
    "exactly). streaming/runner.py:start_cdf_view_maintenance.",
    skip_bench=True,  # staged writes + stream startup dominate
)
def stream_cdf_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.io.sinks import merge_upsert_cdf
    from smartpool_bigdata_spark.streaming.runner import (
        read_cdf_view,
        start_cdf_view_maintenance,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    stage = tempfile.mkdtemp(prefix="spark_cdf_mv_")
    try:
        tgt = os.path.join(stage, "t")
        cdf = os.path.join(stage, "t__cdf")
        log = os.path.join(stage, "view_delta_log")
        ckpt = os.path.join(stage, "ckpt")
        base = orders.filter(F.col("o_orderkey") % 3 != 0).repartition(4)
        merge_upsert_cdf(spark, tgt, base, ["o_orderkey"], cdf, commit_version=0)
        revised = (
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1.5)
            .repartition(4)
        )
        merge_upsert_cdf(spark, tgt, revised, ["o_orderkey"], cdf, commit_version=1)

        feed_schema = (
            "o_orderkey bigint, o_orderpriority string, o_totalprice double, "
            "_change_type string, _commit_version int"
        )
        feed = file_stream(spark, cdf, feed_schema, max_files_per_trigger=3)
        q = start_cdf_view_maintenance(
            feed,
            log,
            group_cols=["o_orderpriority"],
            value_col="o_totalprice",
            checkpoint=ckpt,
            trigger={"availableNow": True},
            query_name="cdf_matview",
        )
        if not q.awaitTermination(180):
            q.stop()
        view = read_cdf_view(spark, log, ["o_orderpriority"]).select(
            "o_orderpriority",
            "view_rows",
            F.round(F.col("view_sum").cast("double"), 2).alias("view_sum"),
        )
        return view.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "stream_state_accounting",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events),
    w AS (SELECT DISTINCT date_trunc('hour', ts) AS ws, event_type
          FROM events)
    SELECT 'emitted_windows' AS metric, CAST(count(*) AS BIGINT) AS value
    FROM w, wm WHERE ws + INTERVAL 1 HOUR <= wm.cut
    UNION ALL
    SELECT 'state_rows_final', CAST(count(*) AS BIGINT)
    FROM w, wm WHERE ws + INTERVAL 1 HOUR > wm.cut
    UNION ALL
    SELECT 'state_rows_removed', CAST(count(*) AS BIGINT)
    FROM w, wm WHERE ws + INTERVAL 1 HOUR <= wm.cut
    """,
    description="STREAMING STATE-SIZE ACCOUNTING (T8's missing half): the "
    "watermarked hourly agg drains under AvailableNow and the query "
    "returns the runtime's OWN state metrics from "
    "lastProgress['stateOperators'] — numRowsTotal after the final flush "
    "and numRowsRemoved by it — alongside the emitted-row count. The "
    "oracle recomputes all three from the input in SQL: state after the "
    "flush must be EXACTLY the open windows (end > max(ts) - delay) and "
    "the flush must have removed exactly the closed ones — so a green row "
    "PROVES state is bounded by key_cardinality x (watermark/duration) "
    "under the watermark contract, not just asserts it. The reference "
    "semantic is T1's state bounding "
    "(spark-apps/07_kafka_smartpool_sensors.py:89); runner support: "
    "progress_summary (streaming/runner.py).",
    skip_bench=True,  # staging write + stream startup dominates
)
def stream_state_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, stage = _stream_events(spark, sf_dir, ["ts", "event_type"])
    agg = watermarked_tumbling_agg(
        stream,
        ts_col="ts",
        watermark="1 hour",
        duration="1 hour",
        keys=["event_type"],
        aggs={"n_events": F.count(F.lit(1))},
    )
    name = f"mem_{uuid.uuid4().hex}"
    try:
        q = run_available_now(agg, name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    # the final progress is the flush micro-batch: it emits + evicts every
    # window the terminal watermark closed and leaves exactly the open ones
    ops = (q.lastProgress or {}).get("stateOperators", [])
    state_total = sum(s.get("numRowsTotal", 0) for s in ops)
    state_removed = sum(s.get("numRowsRemoved", 0) for s in ops)
    emitted = spark.table(name).count()
    return spark.createDataFrame(
        [
            ("emitted_windows", emitted),
            ("state_rows_final", state_total),
            ("state_rows_removed", state_removed),
        ],
        "metric string, value bigint",
    )


@query(
    "stream_dedup_reappear",
    oracle="""
    WITH base AS (
        SELECT event_id, ts FROM events WHERE event_id % 3 = 0
    ),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM base),
    emitted AS (
        SELECT 0 AS phase, event_id, ts FROM base
        UNION ALL
        SELECT 2, event_id, ts + INTERVAL 7 DAY
        FROM base, wm
        WHERE event_id % 6 = 0
          AND ts + INTERVAL 7 DAY > wm.w
          AND ts + INTERVAL 1 HOUR <= wm.w
    )
    SELECT phase,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           min(ts) AS min_ts,
           max(ts) AS max_ts
    FROM emitted GROUP BY phase
    """,
    description="dropDuplicatesWithinWatermark's BOUNDED-STATE REAPPEARANCE "
    "semantics, value-locked end-to-end: three chronologically-ordered "
    "micro-batches (maxFilesPerTrigger=1, mtime-pinned file order) — the "
    "base sample; a dup of its max-ts rows (still tracked, emits nothing, "
    "and its batch evicts every key whose ts+delay <= watermark); then "
    "7-day-shifted dups of a sub-sample. A shifted dup re-emits IFF it is "
    "not late (shifted ts STRICTLY above the watermark — boundary pinned "
    "empirically: a dup AT the watermark drops) AND its original's state "
    "expired (ts + delay <= watermark, eviction AT the boundary pinned "
    "too). Eviction lags one batch (cleanup runs at batch end), which is "
    "why the middle batch is load-bearing. This is the semantic "
    "stream_dedup_events (dup-within-delay -> exactly-once) cannot reach: "
    "state is GC'd, keys MAY come back — the price of bounded state at "
    "100 TB, here pinned to the exact row set. Per-phase digest keeps the "
    "compare O(phases).",
    skip_bench=True,  # three staged writes + stream startup dominate
)
def stream_dedup_reappear(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = event_time_ltz(
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .where(F.col("event_id") % 3 == 0),
        "ts",
    ).localCheckpoint(eager=True)  # one staged lineage, three derived writes
    mx = base.agg(F.max("ts").alias("mx")).collect()[0]["mx"]

    # f=0: the base sample; f=1: dup of the max-ts row(s) — tracked, so it
    # emits nothing, but processing it evicts every expired key; f=2: the
    # shifted dups that probe reappearance.
    stage, src = _staged_batches(
        [
            base,
            base.where(F.col("ts") == F.lit(mx)),
            base.where(F.col("event_id") % 6 == 0).withColumn(
                "ts", F.col("ts") + F.expr("INTERVAL 7 DAYS")
            ),
        ],
        part_col="f",
        prefix="spark_dedup_reappear_",
    )
    stream = file_stream(
        spark,
        src,
        "event_id bigint, ts timestamp, f int",
        max_files_per_trigger=1,
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(deduped, name, fmt="memory")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return (
        spark.table(name)
        .groupBy(F.col("f").alias("phase"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.min("ts").cast("timestamp_ntz").alias("min_ts"),
            F.max("ts").cast("timestamp_ntz").alias("max_ts"),
        )
    )


@query(
    "stream_update_mode_counts",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT b) AS BIGINT) AS n_updates,
           CAST(sum(cnt) AS BIGINT) AS final_count,
           CAST(max(cnt) AS BIGINT) AS max_batch_rows
    FROM (
        SELECT event_type, event_id % 3 AS b, count(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    GROUP BY event_type
    """,
    description="UPDATE output mode (SURVEY §2.7 lists it absent from "
    "the reference; first-class here): an unwatermarked running count "
    "per event_type drains through three pinned micro-batches "
    "(event_id%3 file split, maxFilesPerTrigger=1) into a memory sink, "
    "which in update mode APPENDS one row per CHANGED key per batch — "
    "the emission TRACE, not just the final state. The gate locks the "
    "trace: n_updates per key == number of batches containing the key "
    "(any arrival changes a count), final_count == the max running "
    "value == the batch-twin total, and max_batch_rows (the largest "
    "single-batch contribution, recovered from consecutive trace "
    "deltas and recomputed by the oracle from the same split) pins "
    "that the trace's intermediate values are the exact prefix sums "
    "of the batch partition. Scale: update mode is the dashboard- "
    "sink contract — state is one row per key, emissions are deltas; "
    "unlike append it needs no watermark to emit, unlike complete it "
    "never rewrites the world.",
    skip_bench=True,  # three staged writes + stream startup dominate
)
def stream_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    stage, src = _staged_batches(
        [ev.where(F.col("event_id") % 3 == b) for b in range(3)],
        part_col="b",
        prefix="spark_update_mode_",
    )
    stream = file_stream(
        spark, src, "event_id bigint, event_type string, b int",
        max_files_per_trigger=1,
    )
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(counts, name, fmt="memory", output_mode="update")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    trace = spark.table(name)
    # per-batch contribution = running value minus the previous emission
    # (running counts are strictly increasing per key, so the trace order
    # is recoverable by value — no batch id column needed)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("n")
    deltas = trace.withColumn(
        "batch_rows", F.col("n") - F.coalesce(F.lag("n").over(w), F.lit(0))
    )
    return deltas.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_updates"),
        F.max("n").cast("bigint").alias("final_count"),
        F.max("batch_rows").cast("bigint").alias("max_batch_rows"),
    )


@query(
    "stream_complete_topk",
    oracle="""
    SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY n_events DESC, event_type, hr
    LIMIT 10
    """,
    description="COMPLETE output mode with streaming sort + limit (both "
    "only legal in complete mode; SURVEY §2.7 lists the mode absent "
    "from the reference): the top-10 (event_type, hour-of-day) cells "
    "by count, maintained as a live leaderboard — each micro-batch "
    "REWRITES the memory sink with the full reranked result, so after "
    "the AvailableNow drain the sink holds exactly the batch-twin "
    "top-10 (deterministic total order: count desc, then key). "
    "Scale: complete mode re-emits O(output) per batch — viable "
    "precisely because the "
    "query bounds output to k rows via TakeOrderedAndProject over the "
    "keyed state store, never because the corpus is small; the state "
    "is one row per (type, hour) cell.",
    skip_bench=True,  # staged write + stream startup dominates
)
def stream_complete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, stage = _stream_events(spark, sf_dir, ["ts", "event_type"])
    topk = (
        stream.groupBy("event_type", F.hour("ts").cast("int").alias("hr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy(F.desc("n_events"), "event_type", "hr")
        .limit(10)
    )
    name = f"mem_{uuid.uuid4().hex}"
    try:
        run_available_now(topk, name, fmt="memory", output_mode="complete")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name)


@query(
    "stream_checkpoint_recovery",
    oracle="""
    WITH cut AS (SELECT max(ts) - INTERVAL 72 HOUR AS c,
                        max(ts) - INTERVAL 1 HOUR AS wm FROM events),
    w AS (SELECT date_trunc('hour', ts) AS ws, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2)
    SELECT 'run1_input_rows' AS metric, CAST(count(*) AS BIGINT) AS value
    FROM events, cut WHERE ts <= cut.c
    UNION ALL
    SELECT 'run2_input_rows', CAST(count(*) AS BIGINT)
    FROM events, cut WHERE ts > cut.c
    UNION ALL
    SELECT 'emitted_windows', CAST(count(*) AS BIGINT)
    FROM w, cut WHERE ws + INTERVAL 1 HOUR <= cut.wm
    UNION ALL
    SELECT 'dup_window_keys', CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'events_in_emitted', CAST(sum(n) AS BIGINT)
    FROM w, cut WHERE ws + INTERVAL 1 HOUR <= cut.wm
    """,
    description="CHECKPOINT RECOVERY across two separate streaming runs "
    "(the restart semantic every production stream lives on, previously "
    "only implied by single-run gates): run 1 drains the first 27 days "
    "into a parquet sink under a checkpoint and STOPS; the last 3 days "
    "of files then land in the source and run 2 starts from the SAME "
    "checkpoint. The gate value-locks all three recovery guarantees at "
    "once: OFFSET recovery (run 2's observed numInputRows == exactly "
    "the new files' rows — nothing reprocessed), STATE recovery (the "
    "hour window straddling the split gets contributions from BOTH "
    "runs and its merged count matches the oracle's whole-corpus "
    "rebuild — impossible unless run 2 loaded run 1's state store), "
    "and EXACTLY-ONCE emission (zero duplicate (window, key) rows "
    "across the two runs' appends). Watermark also recovers: run 1's "
    "terminal watermark persists, and no run-2 event is late by "
    "construction (the split is chronological). streaming/runner.py.",
    skip_bench=True,  # two staged runs + stream startup dominate
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = event_time_ltz(
        load_table(spark, sf_dir, "events").select("ts", "event_type"), "ts"
    ).localCheckpoint(eager=True)  # one lineage, two staged writes
    cut = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 72 HOURS")).alias("c")
    ).collect()[0]["c"]

    stage = tempfile.mkdtemp(prefix="spark_ckpt_recovery_")
    src = os.path.join(stage, "src")
    sink = os.path.join(stage, "sink")
    ckpt = os.path.join(stage, "ckpt")
    os.makedirs(src)

    def _agg(stream: DataFrame) -> DataFrame:
        return watermarked_tumbling_agg(
            stream,
            ts_col="ts",
            watermark="1 hour",
            duration="1 hour",
            keys=["event_type"],
            aggs={"n_events": F.count(F.lit(1))},
        )

    schema = "ts timestamp, event_type string"
    try:
        ev.where(F.col("ts") <= F.lit(cut)).coalesce(2).write.parquet(
            os.path.join(src, "f=0")
        )
        q1 = run_available_now(
            _agg(file_stream(spark, src, schema)), sink,
            checkpoint=ckpt, fmt="parquet",
        )
        run1_rows = sum(p["numInputRows"] for p in q1.recentProgress)

        ev.where(F.col("ts") > F.lit(cut)).coalesce(2).write.parquet(
            os.path.join(src, "f=1")
        )
        q2 = run_available_now(
            _agg(file_stream(spark, src, schema)), sink,
            checkpoint=ckpt, fmt="parquet",
        )
        run2_rows = sum(p["numInputRows"] for p in q2.recentProgress)

        emitted = spark.read.parquet(sink)
        stats = emitted.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("n_events").cast("bigint").alias("n_rows"),
        ).collect()[0]
        dups = (
            emitted.groupBy("window_start", "event_type")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1)
            .count()
        )
        return spark.createDataFrame(
            [
                ("run1_input_rows", int(run1_rows)),
                ("run2_input_rows", int(run2_rows)),
                ("emitted_windows", int(stats["n_windows"])),
                ("dup_window_keys", int(dups)),
                ("events_in_emitted", int(stats["n_rows"])),
            ],
            "metric string, value bigint",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)



@query(
    "stream_conformal_quarantine",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS tp_cents,
               o_orderkey % 10 AS b
        FROM orders
    ),
    model AS (
        SELECT o_orderpriority,
               CAST(sum(tp_cents) AS DOUBLE) / count(*) AS pred
        FROM base WHERE b < 6 GROUP BY o_orderpriority
    ),
    cal AS (
        SELECT abs(base.tp_cents - model.pred) AS r, base.o_orderkey
        FROM base JOIN model USING (o_orderpriority) WHERE b IN (6, 7)
    ),
    stats AS (
        SELECT CAST(least((9 * (count(*) + 1) + 9) // 10, count(*))
                    AS BIGINT) AS k
        FROM cal
    ),
    ranked AS (
        SELECT r, row_number() OVER (ORDER BY r, o_orderkey) AS rn FROM cal
    ),
    q AS (SELECT r AS q_hat FROM ranked, stats WHERE rn = k),
    test AS (
        SELECT base.o_orderkey, base.tp_cents,
               abs(base.tp_cents - model.pred) AS r
        FROM base JOIN model USING (o_orderpriority) WHERE b >= 8
    )
    SELECT CASE WHEN test.r > q.q_hat THEN 'oob' ELSE 'clean' END
               AS disposition,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(tp_cents) AS BIGINT) AS total_cents
    FROM test CROSS JOIN q
    GROUP BY 1
    """,
    description="FIT-BATCH / ENFORCE-STREAM conformal monitoring — the "
    "model-driven twin of stream_dq_quarantine's rule-driven routing: "
    "the split-conformal interval is fitted ONCE on the batch side "
    "(order_conformal_interval's shared _conformal_fit: group-mean "
    "model + exact ceil(0.9(n+1))-th calibration residual), then the "
    "held-out orders arrive AS A STREAM, join the broadcast model "
    "stream-static, and route through foreachBatch quarantine with "
    "ONE learned rule: |price - pred| > q_hat. Out-of-interval orders "
    "land in the quarantine table with a reason, in-interval orders "
    "MERGE into the clean table, both keyed so micro-batch replays "
    "are idempotent; by the conformal guarantee the quarantine rate "
    "tracks ~10% regardless of the price distribution. The oracle "
    "re-derives the fit AND the routing in SQL over the same corpus — "
    "green proves the learned threshold survived the batch->stream "
    "handoff bit-exactly and no row was lost or mis-routed across "
    "micro-batches. Scale: the fit is the batch gate's cost; the "
    "stream side is a broadcast join + filter per micro-batch with "
    "O(1) state.",
    skip_bench=True,  # staging write + stream startup dominates
)
def stream_conformal_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.queries import _conformal_fit
    from smartpool_bigdata_spark.streaming.runner import (
        start_foreach_batch_quarantine,
    )

    base, model, _n_cal, _k, q_hat = _conformal_fit(spark, sf_dir)
    test = base.where("b >= 8").select(
        "o_orderkey", "o_orderpriority", "tp_cents"
    )
    stage = tempfile.mkdtemp(prefix="spark_conformal_stream_")
    src = os.path.join(stage, "src")
    clean = os.path.join(stage, "clean")
    quar = os.path.join(stage, "quarantine")
    ckpt = os.path.join(stage, "ckpt")
    test.repartition(4).write.parquet(src)
    try:
        stream = file_stream(
            spark, src, test.schema, max_files_per_trigger=1
        ).join(F.broadcast(model), "o_orderpriority")
        q = start_foreach_batch_quarantine(
            stream,
            clean,
            quar,
            rules=[
                (
                    "oob",
                    F.abs(F.col("tp_cents") - F.col("pred"))
                    > F.lit(q_hat),
                )
            ],
            keys=["o_orderkey"],
            checkpoint=ckpt,
            trigger={"availableNow": True},
            query_name="conformal_quarantine",
        )
        if not q.awaitTermination(240):
            q.stop()
        clean_df = spark.read.parquet(clean).select(
            F.lit("clean").alias("disposition"), "tp_cents"
        )
        quar_df = spark.read.parquet(quar).select(
            F.col("dq_reason").alias("disposition"), "tp_cents"
        )
        out = (
            clean_df.unionByName(quar_df)
            .groupBy("disposition")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("tp_cents").cast("bigint").alias("total_cents"),
            )
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)
