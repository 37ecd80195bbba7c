"""Ingestion queries for the driver gate: drift-tolerant CSV landing and
the keyset-incremental protocol, each run END-TO-END inside the query
(stage → ingest → aggregate) so the gate checks real ingestion behavior
against a plain-SQL oracle over the same source rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartpool_bigdata_spark.catalog import load_table
from smartpool_bigdata_spark.functions import stable_avg
from smartpool_bigdata_spark.io import drift_tolerant_timestamp, read_landing_csv
from smartpool_bigdata_spark.queries import query
from smartpool_bigdata_spark.state import WatermarkStore, incremental_ingest


@query(
    "csv_landing_daily_stats",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           count(*) AS n_events,
           CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                 / count(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
    description="S4/S5 end-to-end: events staged as headered CSV drops in "
    "THREE drifted producer layouts (ts | ts_utc+Z | date+hour, split by "
    "user_id%3) under date= partition dirs, read back with "
    "inferSchema=false + explicit casts + the coalesce(to_timestamp...) "
    "chain, then daily stats. Oracle is plain SQL over the original rows — "
    "green means the CSV round-trip and every parse branch is lossless. "
    "Mirrors spark-apps/05_ingest_electricity_csv.py:25-46.",
    skip_bench=True,  # staging write dominates; not a query-latency signal
)
def csv_landing_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stage = tempfile.mkdtemp(prefix="spark_csv_landing_")
    landing = os.path.join(stage, "landing")
    common = ["event_id", "user_id", "event_type", "value", "d"]
    base = ev.withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
    # layout A: plain ts string with µs
    base.filter(F.col("user_id") % 3 == 0).select(
        *common, F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts")
    ).write.partitionBy("d").option("header", True).csv(os.path.join(landing, "a"))
    # layout B: ISO-8601 UTC with Z suffix
    base.filter(F.col("user_id") % 3 == 1).select(
        *common,
        F.concat(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z")
        ).alias("ts_utc"),
    ).write.partitionBy("d").option("header", True).csv(os.path.join(landing, "b"))
    # layout C: date + hour columns (hour-resolution producers); note the
    # oracle stays exact because daily grouping is insensitive to the
    # sub-hour truncation this layout implies — the parse path is what's
    # under test
    base.filter(F.col("user_id") % 3 == 2).select(
        "event_id", "user_id", "event_type", "value", "d",
        F.col("d").alias("date"), F.hour("ts").alias("hour"),
    ).write.partitionBy("d").option("header", True).csv(os.path.join(landing, "c"))

    dfs = []
    for layout in ("a", "b", "c"):
        raw = read_landing_csv(
            spark,
            os.path.join(landing, layout),
            casts={"value": "double", "hour": "int", "event_id": "bigint"},
        )
        typed = drift_tolerant_timestamp(raw)
        dfs.append(typed.select("event_id", "ts", "value"))
    united = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
    out = (
        united.groupBy(F.col("ts").cast("date").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("null_ts"),
            stable_avg("value", 4).alias("avg_value"),
        )
    )
    rows = out.localCheckpoint(eager=True)  # materialize before cleanup
    shutil.rmtree(stage, ignore_errors=True)
    return rows


@query(
    "landing_cardinality_check",
    oracle="""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS event_date, event_type,
             extract(hour FROM ts) AS h, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3
    )
    SELECT event_date, event_type,
           count(*) AS n_hours,
           CAST(sum(n) AS BIGINT) AS n_events,
           CASE WHEN count(*) >= 24 AND count(*) <= 24 THEN 'ok'
                ELSE 'VIOLATION:' || CAST(count(*) AS VARCHAR)
           END AS cardinality_check
    FROM hourly GROUP BY 1, 2
    """,
    description="DQ6 expected-cardinality gate (reference: the landing QA "
    "cell asserting 24 hourly rows per day per region, "
    "notebooks/05_ingest_electricity_csv.ipynb:409): events are rolled up "
    "to hourly presence per (day, event_type), then "
    "expectations.grouped_cardinality applies RowCountBetween(24, 24) per "
    "group and emits the per-group verdict column — 'ok' for complete "
    "days, 'VIOLATION:<n_hours>' for gappy ones (both verdicts occur in "
    "the testdata, so green proves the check fires, not just passes). "
    "Two hash aggregates, no shuffle beyond them; the verdict is a column "
    "expression, never a driver loop.",
)
def landing_cardinality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.expectations import (
        RowCountBetween,
        grouped_cardinality,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        F.col("ts").cast("date").alias("event_date"),
        "event_type",
        F.hour("ts").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return grouped_cardinality(
        hourly,
        ["event_date", "event_type"],
        RowCountBetween(lo=24, hi=24),
        count_alias="n_hours",
        extra_aggs=[F.sum("n").alias("n_events")],
    ).select(
        "event_date", "event_type", "n_hours", "n_events", "cardinality_check"
    )


@query(
    "incremental_keyset_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n_events, CAST(max(ts) AS TIMESTAMP) AS max_ts
    FROM events GROUP BY event_type
    """,
    description="S17/S2/S3 end-to-end: events ingested in two keyset-"
    "incremental batches (first half by ts, then the full source) through "
    "a WatermarkStore with string-preserved µs watermarks; bronze must "
    "contain every source row EXACTLY once — re-ingestion dups or "
    "equal-timestamp losses (the reference's datetime2(7) bug class, "
    "main.tex:150) would break the count oracle. Mirrors "
    "spark-apps/02_ingest_smartpool.py:34-76.",
    skip_bench=True,
)
def incremental_keyset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    stage = tempfile.mkdtemp(prefix="spark_incr_")
    bronze = os.path.join(stage, "bronze")
    store = WatermarkStore(spark, stage)
    cutoff = ev.select(
        F.percentile_approx("ts", 0.5).alias("m")
    ).collect()[0]["m"]

    def sink(df: DataFrame) -> None:
        df.write.mode("append").parquet(bronze)

    batch1 = ev.filter(F.col("ts") <= F.lit(cutoff))
    incremental_ingest(batch1, store, "events", "ts", sink, pk_col="event_id")
    incremental_ingest(ev, store, "events", "ts", sink, pk_col="event_id")

    landed = spark.read.parquet(bronze)
    out = landed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("max_ts")
    )
    rows = out.localCheckpoint(eager=True)
    shutil.rmtree(stage, ignore_errors=True)
    return rows


@query(
    "medallion_gold_daily",
    oracle="""
    SELECT CAST(e.ts AS DATE) AS event_date,
           coalesce(c.c_mktsegment, 'unknown') AS segment,
           count(*) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    description="Full medallion composition under the gate: bronze "
    "incremental ingest (2 keyset batches, audit columns) -> silver "
    "latest-per-key snapshot behind a NotNull/Unique expectations suite -> "
    "gold enriched daily metrics, all through real partitioned parquet "
    "layers in a temp root. Oracle is plain SQL over the ORIGINAL rows: "
    "green proves the whole topology lossless. Mirrors "
    "dags/dag_10_smartpool_structured_batch.py jobs 02->03->04.",
    skip_bench=True,
)
def medallion_gold_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.catalog import Catalog
    from smartpool_bigdata_spark.expectations import NotNull, Suite, Unique
    from smartpool_bigdata_spark.pipelines import MedallionPipeline

    ev = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    stage = tempfile.mkdtemp(prefix="spark_medallion_")
    cat = Catalog(root=stage)
    pipe = MedallionPipeline(spark, cat)
    audit_ts = F.lit("2024-02-01 00:00:00").cast("timestamp")

    cutoff = ev.select(F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    pipe.bronze_ingest(
        "events", ev.filter(F.col("ts") <= F.lit(cutoff)), "ts",
        pk_col="event_id", audit_source="testdata", audit_ts=audit_ts,
    )
    pipe.bronze_ingest(
        "events", ev, "ts", pk_col="event_id",
        audit_source="testdata", audit_ts=audit_ts,
    )
    cat.define("bronze", "customer")
    cat.write(customer, "bronze.customer", mode="overwrite")

    pipe.silver_snapshot(
        "events", keys=["event_id"], order_by=[F.col("ts").desc()],
        expectations=Suite([NotNull(["event_id", "ts"]), Unique(["event_id"])]),
    )
    pipe.silver_merge(
        "customer", keys=["c_custkey"], order_by=[F.col("c_custkey").desc()]
    )

    def build(frames):
        sev, cust = frames["silver.events"], frames["silver.customer"]
        joined = sev.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            sev["user_id"] == F.col("c_custkey"),
            "left",
        )
        return joined.groupBy(
            F.col("ts").cast("date").alias("event_date"),
            F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 2
            ).alias("total_value"),
        )

    gold = pipe.gold(
        "daily_segment_metrics", build, inputs=["silver.events", "silver.customer"]
    )
    rows = gold.localCheckpoint(eager=True)
    shutil.rmtree(stage, ignore_errors=True)
    return rows


@query(
    "clustered_time_slice",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY event_type
    """,
    description="Data-skipping round-trip: events are written "
    "range-clustered on ts (io.write_clustered — each parquet file owns "
    "a disjoint time slice with tight footer min/max), then a 2-day "
    "slice is read back with the predicate on the scan and aggregated. "
    "Green proves the clustered layout preserves every row and the "
    "pruned read returns exactly the slice — the at-scale access "
    "pattern where a time-bounded query reads only the files whose "
    "[min, max] overlaps instead of the whole table. "
    "tests/test_state_io.py locks the disjoint-footer contract itself.",
    skip_bench=True,  # staging write dominates, like the other ingest queries
)
def clustered_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io import write_clustered

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    stage = tempfile.mkdtemp(prefix="spark_clustered_")
    try:
        out = os.path.join(stage, "events_by_ts")
        write_clustered(ev, out, cluster_by=["ts"], n_files=8)
        sliced = (
            spark.read.parquet(out)
            .filter(
                (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
                & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp_ntz"))
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                stable_sum("value", 2).alias("total_value"),
            )
        )
        return sliced.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "zorder_time_user_slice",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
      AND user_id BETWEEN 3 AND 9
    GROUP BY event_type
    """,
    description="MULTI-dimensional data-skipping round-trip "
    "(io.sinks.zorder_write — Delta OPTIMIZE ZORDER's vanilla-parquet "
    "analog): events are written Z-ORDER clustered on (epoch ts, "
    "user_id) — bit-interleaved curve, range-partitioned — then read "
    "back with a predicate on BOTH keys and aggregated. Green proves "
    "the curve layout preserves every row and the 2-D slice returns "
    "exactly; the skipping property itself (per-file footer stats tight "
    "on EVERY interleaved key, vs linear clustering's leading-key-only) "
    "is measured and locked in tests/test_bucketing.py::"
    "test_zorder_layout_skips_on_every_key.",
    skip_bench=True,  # staging write dominates, like the other ingest queries
)
def zorder_time_user_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.sinks import zorder_write

    ev = (
        load_table(spark, sf_dir, "events")
        .select("ts", "user_id", "event_type", "value")
        .withColumn("__epoch", F.col("ts").cast("timestamp").cast("double"))
    )
    stage = tempfile.mkdtemp(prefix="spark_zorder_")
    try:
        out = os.path.join(stage, "events_z")
        zorder_write(
            ev, out, cols=["__epoch", "user_id"], n_files=16,
            drop_cols=["__epoch"],
        )
        sliced = (
            spark.read.parquet(out)
            .filter(
                (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
                & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"))
                & F.col("user_id").between(3, 9)
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                stable_sum("value", 2).alias("total_value"),
            )
        )
        return sliced.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "sensor_feed_stats",
    oracle="""
    WITH feed AS (
        SELECT g AS reading_id,
               CAST(g % 16 AS INTEGER) AS sensor_id,
               20.0 + CAST(g * 37 % 1000 AS DOUBLE) / 100.0 AS temp,
               6.5 + CAST(g * 53 % 200 AS DOUBLE) / 100.0 AS ph,
               (g * 7919) % 97 < 8 AS anomaly
        FROM generate_series(0, 9999) t(g)
    )
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(CASE WHEN anomaly THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           round(CAST(sum(CAST(temp AS DECIMAL(38,10))) AS DOUBLE)
                 / count(temp), 4) AS avg_temp,
           round(CAST(sum(CAST(ph AS DECIMAL(38,10))) AS DOUBLE)
                 / count(ph), 4) AS avg_ph
    FROM feed GROUP BY sensor_id
    """,
    description="Custom Python data source end-to-end (Spark 4 "
    "pyspark.sql.datasource): the sensor_feed source (partitioned batch "
    "reader + reading_id filter pushdown + streaming offset protocol — "
    "io/pydatasource.py, standing in for the reference's sandbox-blocked "
    "Kafka/JDBC connectors) read through the engine and aggregated per "
    "sensor. The rows are a pure arithmetic function of reading_id, so "
    "DuckDB regenerates them exactly via generate_series — a custom "
    "CONNECTOR with a full value-hash oracle, not just a rows-only "
    "check. ~8% injected anomalies mirror the reference producer "
    "(producers/producer_smartpool_sensors.py:29-40).",
    skip_bench=True,  # Python-worker source: measures the API, not the engine
)
def sensor_feed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_avg as _avg
    from smartpool_bigdata_spark.io.pydatasource import register_sensor_feed

    register_sensor_feed(spark)
    feed = spark.read.format("sensor_feed").option("n", 10_000).load()
    return feed.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_readings"),
        F.sum(F.when(F.col("anomaly"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_anomalies"),
        _avg("temp", 4).alias("avg_temp"),
        _avg("ph", 4).alias("avg_ph"),
    )


@query(
    "orc_roundtrip_stats",
    oracle="""
    SELECT event_type,
           CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                 / count(value), 4) AS avg_value
    FROM events
    WHERE event_type IN ('purchase', 'view') AND CAST(ts AS DATE) <= DATE '2024-01-07'
    GROUP BY event_type, CAST(ts AS DATE)
    """,
    description="ORC source/sink round-trip (Spark's second built-in "
    "columnar format): events stage to an ORC table partitioned by "
    "event_type, and the consumer's event_type IN (...) filter prunes "
    "partitions at plan time while the date bound pushes into the ORC "
    "reader (predicate pushdown works on ORC stripe stats like parquet "
    "row groups). Timestamps survive the round-trip at full microsecond "
    "precision; the oracle reads the ORIGINAL parquet, so the value hash "
    "proves the format conversion is lossless.",
    skip_bench=True,  # staging write dominates the timing
)
def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="spark_orc_")
    path = os.path.join(stage, "events_orc")
    ev.write.mode("overwrite").partitionBy("event_type").orc(path)
    try:
        back = (
            spark.read.orc(path)
            .filter(F.col("event_type").isin("purchase", "view"))
            .filter(F.col("ts").cast("date") <= F.lit("2024-01-07").cast("date"))
        )
        out = (
            back.groupBy("event_type", F.col("ts").cast("date").alias("day"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                stable_avg("value", 4).alias("avg_value"),
            )
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "json_landing_stats",
    oracle="""
    SELECT event_type,
           CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
    description="JSON-lines landing-zone round-trip (the third "
    "semi-structured ingestion mode next to the CSV landing and Kafka "
    "JSON paths): events serialize to JSONL with the event time carried "
    "as epoch MICROS (a bigint) — Spark's default JSON timestamp format "
    "truncates to milliseconds, so naive round-trips silently lose "
    "precision, the same class of bug as the reference's documented "
    "datetime2(7) truncation (main.tex:150) — then read back with an "
    "EXPLICIT schema (no inference pass) and timestamp_micros "
    "reconstruction. Oracle reads the original parquet: value-hash "
    "proves losslessness.",
    skip_bench=True,  # staging write dominates the timing
)
def json_landing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="spark_jsonl_")
    path = os.path.join(stage, "events_jsonl")
    ev.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    ).write.mode("overwrite").json(path)
    try:
        back = spark.read.schema(
            "event_id bigint, ts_us bigint, user_id bigint, "
            "event_type string, value double"
        ).json(path)
        back = back.withColumn(
            "ts", F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz")
        )
        out = back.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "sensor_feed_stream_stats",
    oracle="""
    WITH feed AS (
        SELECT g AS reading_id,
               CAST(g % 16 AS INTEGER) AS sensor_id,
               20.0 + CAST(g * 37 % 1000 AS DOUBLE) / 100.0 AS temp,
               6.5 + CAST(g * 53 % 200 AS DOUBLE) / 100.0 AS ph,
               (g * 7919) % 97 < 8 AS anomaly
        FROM generate_series(0, 5999) t(g)
    )
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(CASE WHEN anomaly THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           round(CAST(sum(CAST(temp AS DECIMAL(38,10))) AS DOUBLE)
                 / count(temp), 4) AS avg_temp,
           round(CAST(sum(CAST(ph AS DECIMAL(38,10))) AS DOUBLE)
                 / count(ph), 4) AS avg_ph
    FROM feed GROUP BY sensor_id
    """,
    description="The sensor_feed custom source's STREAMING half end-to-end "
    "under the value oracle (sensor_feed_stats gates only the batch "
    "reader): readStream drives the full offset protocol — initialOffset, "
    "rate-limited latestOffset advances (rows_per_batch=1500 over n=6000, "
    "so >= 4 micro-batches), sidecar cursor persistence, partitions() "
    "planned per (start, end] — into a memory sink, then the drained rows "
    "aggregate per sensor. Same pure reading_id arithmetic, so DuckDB "
    "regenerates the exact rows via generate_series. Exactly-once across "
    "restarts is separately proven by tests/test_pydatasource.py::"
    "test_stream_restart_is_exactly_once.",
    skip_bench=True,  # wall-clock is trigger polling, not engine work
)
def sensor_feed_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import time
    import uuid

    from smartpool_bigdata_spark.functions import stable_avg as _avg
    from smartpool_bigdata_spark.io.pydatasource import register_sensor_feed

    register_sensor_feed(spark)
    n = 6_000
    stage = tempfile.mkdtemp(prefix="spark_feed_stream_")
    stream = (
        spark.readStream.format("sensor_feed")
        .option("n", n)
        .option("rows_per_batch", 1_500)
        .option("progress_path", os.path.join(stage, "cursor"))
        .load()
    )
    name = f"mem_feed_{uuid.uuid4().hex[:10]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and spark.table(name).count() < n:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination(30)
        shutil.rmtree(stage, ignore_errors=True)
    drained = spark.table(name).count()
    if drained != n:
        raise TimeoutError(f"sensor feed drained {drained}/{n} rows in 120s")
    return spark.table(name).groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_readings"),
        F.sum(F.when(F.col("anomaly"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_anomalies"),
        _avg("temp", 4).alias("avg_temp"),
        _avg("ph", 4).alias("avg_ph"),
    )


@query(
    "ledger_roundtrip_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_value,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY event_type
    """,
    description="Custom Python data SINK round-trip (Spark 4 "
    "DataSourceWriter — the write half of the connector surface the "
    "sensor_feed source covers for reads): events flow through the "
    "'ledger' sink's two-phase commit (executor-side staged JSONL per "
    "partition -> driver-side atomic publish via rename + manifest) and "
    "back through its manifest-only reader; the oracle reads the "
    "ORIGINAL parquet, so the value hash proves the stage/commit/read "
    "protocol is lossless, doubles included (repr shortest round-trip). "
    "Exactly-once streaming commit + abort/atomicity semantics are "
    "pinned in tests/test_pyledger.py. io/pyledger.py.",
    skip_bench=True,  # staging write dominates the timing
)
def ledger_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.pyledger import register_ledger

    register_ledger(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stage = tempfile.mkdtemp(prefix="spark_ledger_")
    path = os.path.join(stage, "ledger")
    try:
        ev.repartition(8).write.format("ledger").mode("append").option(
            "path", path
        ).save()
        back = (
            spark.read.format("ledger")
            .schema("event_id bigint, event_type string, value double")
            .option("path", path)
            .load()
        )
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            stable_sum("value", 2).alias("total_value"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "ledger_time_travel_stats",
    oracle="""
    WITH v AS (
        SELECT 'v0' AS version, o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT 'v1', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT version,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(1 AS BIGINT) AS n_commits,
           version = 'v1' AS is_head
    FROM v GROUP BY version
    """,
    description="Time travel + table history on the custom ledger sink "
    "(the Delta versionAsOf / DESCRIBE HISTORY analog the reference QA "
    "uses, notebooks/03_silver_smartpool.ipynb:711-713): even orders "
    "land as epoch 0, a retain-ed OVERWRITE publishes odd orders as "
    "epoch 1 (atomic HEAD flip, superseded epoch kept on disk), then "
    "BOTH versions are read back — HEAD by default, epoch 0 via the "
    "reader's epoch pin — and aggregated side by side with the commit "
    "counts and head flags from history(). The oracle rebuilds both "
    "versions arithmetically from the original parquet, so the value "
    "hash locks the whole retain/flip/pin/history protocol: a torn "
    "overwrite, a misresolved epoch, or history drift all break it. "
    "io/pyledger.py.",
    skip_bench=True,  # staging write dominates the timing
)
def ledger_time_travel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.pyledger import history, register_ledger

    register_ledger(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    stage = tempfile.mkdtemp(prefix="spark_ledger_tt_")
    path = os.path.join(stage, "ledger")
    try:
        orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4).write.format(
            "ledger"
        ).mode("append").option("path", path).save()
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(4).write.format(
            "ledger"
        ).mode("overwrite").option("path", path).option("retain", "true").save()

        hist = {h["epoch"]: h for h in history(path)}

        def _version(epoch: int, label: str) -> DataFrame:
            reader = (
                spark.read.format("ledger")
                .schema("o_orderkey bigint, o_totalprice double")
                .option("path", path)
            )
            if not hist[epoch]["is_head"]:
                reader = reader.option("epoch", str(epoch))
            return reader.load().select(
                F.lit(label).alias("version"),
                "o_orderkey",
                "o_totalprice",
                F.lit(hist[epoch]["n_commits"]).cast("bigint").alias("n_commits"),
                F.lit(hist[epoch]["is_head"]).alias("is_head"),
            )

        both = _version(0, "v0").unionByName(_version(1, "v1"))
        out = both.groupBy("version", "n_commits", "is_head").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            stable_sum("o_totalprice", 2).alias("total_price"),
            F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        ).select(
            "version", "n_rows", "total_price", "min_orderkey",
            "n_commits", "is_head",
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "merge_change_feed_stats",
    oracle="""
    WITH feed AS (
        SELECT 0 AS commit_version, 'insert' AS change_type,
               o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 3 != 0
        UNION ALL
        SELECT 1, 'insert', o_orderkey, o_totalprice + 1.5
        FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
        UNION ALL
        SELECT 1, 'update_preimage', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 != 0
        UNION ALL
        SELECT 1, 'update_postimage', o_orderkey, o_totalprice + 1.5
        FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 != 0
    )
    SELECT commit_version, change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey
    FROM feed GROUP BY commit_version, change_type
    """,
    description="MERGE with CHANGE DATA FEED (the Delta CDF / "
    "readChangeFeed analog): an initial load then a price-revising "
    "upsert, each appending its row-level diff — insert / "
    "update_preimage / update_postimage tagged with the commit version "
    "— to an append-only feed partitioned by version (consumers resume "
    "with a partition-pruned version-range scan, the CDF read "
    "contract). The change rows fall out of the merge's own anti/semi "
    "joins — no second diff pass over the target. The oracle rebuilds "
    "the full feed arithmetically from the original table, so the "
    "value hash locks every image: a wrong preimage, a double-tagged "
    "insert, or a version mixup all break it. io/sinks.py:"
    "merge_upsert_cdf, read_change_feed.",
    skip_bench=True,  # staged table writes dominate the timing
)
def merge_change_feed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.sinks import merge_upsert_cdf, read_change_feed

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    stage = tempfile.mkdtemp(prefix="spark_cdf_")
    try:
        tgt = os.path.join(stage, "t")
        cdf = os.path.join(stage, "t__cdf")
        base = orders.filter(F.col("o_orderkey") % 3 != 0)
        merge_upsert_cdf(spark, tgt, base, ["o_orderkey"], cdf, commit_version=0)
        revised = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1.5
        )
        merge_upsert_cdf(spark, tgt, revised, ["o_orderkey"], cdf, commit_version=1)
        feed = read_change_feed(spark, cdf, starting_version=0)
        out = feed.groupBy(
            F.col("_commit_version").cast("int").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            stable_sum("o_totalprice", 2).alias("total_price"),
            F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "schema_merge_landing_stats",
    oracle="""
    SELECT CASE WHEN o_orderkey % 3 = 0
                THEN (CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END)
           END AS channel,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey
    FROM orders GROUP BY 1
    """,
    description="S12 end-to-end (io.sinks.append_with_schema_merge — the "
    "mergeSchema=true Bronze append, "
    "notebooks/05_ingest_electricity_csv.ipynb:241-245): a legacy batch "
    "of orders lands WITHOUT the channel column, a drifted producer then "
    "appends WITH it, and the merged read is aggregated per channel. "
    "Legacy rows must surface channel=NULL (the union-schema contract) "
    "and every row must survive both appends — the oracle rebuilds the "
    "batch split arithmetically over the original table, so the value "
    "hash locks losslessness of the schema-evolving append, not just "
    "its row count.",
    skip_bench=True,  # staging write dominates the timing
)
def schema_merge_landing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.sinks import append_with_schema_merge

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    stage = tempfile.mkdtemp(prefix="spark_schema_merge_")
    try:
        path = os.path.join(stage, "bronze_orders")
        legacy = orders.filter(F.col("o_orderkey") % 3 != 0)
        legacy.write.mode("append").parquet(path)
        drifted = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "channel",
            F.when(F.col("o_orderkey") % 2 == 0, "web").otherwise("store"),
        )
        merged = append_with_schema_merge(spark, path, drifted)
        out = merged.groupBy("channel").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            stable_sum("o_totalprice", 2).alias("total_price"),
            F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "bootstrap_partitioned_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS bootstrap_created,
           FALSE AS bootstrap_recreated,
           'event_date' AS partition_col
    FROM events GROUP BY event_type
    """,
    description="S14+S18 end-to-end (io.sinks.ensure_table + table_detail "
    "+ expectations.PartitionedBy — ensure_delta and DESCRIBE DETAIL, "
    "notebooks/07_kafka_smartpool_sensors.ipynb:242-250, "
    "03_silver_smartpool.ipynb:698-713): an empty partitioned table is "
    "bootstrapped (sentinel-partition schema file), re-bootstrap is a "
    "no-op, events append partitioned by event_date, and the metadata "
    "scan + physical-partitioning assertion fold into the output row as "
    "oracle-locked literals — bootstrap_created/bootstrap_recreated come "
    "from ensure_table's return values and partition_col from the "
    "discovered layout (BROKEN on violation), so a silent layout "
    "regression flips the value hash. The sentinel partition must "
    "contribute zero rows (count oracle).",
    skip_bench=True,  # staging write dominates the timing
)
def bootstrap_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.expectations import PartitionedBy
    from smartpool_bigdata_spark.io.sinks import ensure_table, table_detail

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    stage = tempfile.mkdtemp(prefix="spark_bootstrap_")
    try:
        path = os.path.join(stage, "events_by_day")
        schema = "ts timestamp_ntz, event_type string, event_date date"
        created = ensure_table(spark, path, schema, partition_by=["event_date"])
        recreated = ensure_table(spark, path, schema, partition_by=["event_date"])
        ev.withColumn("event_date", F.col("ts").cast("date")).write.mode(
            "append"
        ).partitionBy("event_date").parquet(path)
        detail = table_detail(spark, path)
        violations = PartitionedBy(path, ["event_date"]).check(None)
        part_ok = detail["partitionColumns"] == ["event_date"] and not violations
        landed = spark.read.parquet(path)
        out = (
            landed.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.countDistinct("event_date").cast("bigint").alias("n_days"),
            )
            .withColumns(
                {
                    "bootstrap_created": F.lit(bool(created)),
                    "bootstrap_recreated": F.lit(bool(recreated)),
                    "partition_col": F.lit(
                        "event_date" if part_ok else "BROKEN"
                    ),
                }
            )
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "compact_maintenance_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_value,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id,
           'ok' AS compaction_check
    FROM events GROUP BY event_type
    """,
    description="Small-files compaction round-trip (io.sinks.compact_table "
    "— the parquet analog of Delta OPTIMIZE, the maintenance op a "
    "streaming file sink needs after a day of per-trigger micro-files): "
    "events are deliberately written as 64 tiny files (the streaming-"
    "sink pathology), compacted to ~target-size files via the staged-"
    "swap rewrite, and re-aggregated. compaction_check folds the file-"
    "count contract into the value hash ('ok' only if the rewrite "
    "actually reduced the file count AND sizing came from real on-disk "
    "bytes); the per-type stats + min/max ids lock losslessness of the "
    "rewrite itself. Idempotence and file-size math are unit-locked in "
    "tests/test_state_io.py.",
    skip_bench=True,  # staging write dominates the timing
)
def compact_maintenance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.sinks import compact_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stage = tempfile.mkdtemp(prefix="spark_compact_")
    try:
        path = os.path.join(stage, "events_small_files")
        ev.repartition(64).write.parquet(path)
        res = compact_table(spark, path, target_file_bytes=32 * 1024 * 1024)
        ok = (
            res["files_before"] == 64
            and 0 < res["files_after"] < res["files_before"]
        )
        out = (
            spark.read.parquet(path)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                stable_sum("value", 2).alias("total_value"),
                F.min("event_id").cast("bigint").alias("min_event_id"),
                F.max("event_id").cast("bigint").alias("max_event_id"),
            )
            .withColumn("compaction_check", F.lit("ok" if ok else "BROKEN"))
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@query(
    "jdbc_live_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(ts) AS TIMESTAMP) AS max_ts,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_value
    FROM events GROUP BY event_type
    """,
    description="S1/S2/S3 against a LIVE JDBC DATABASE (embedded Apache "
    "Derby — the JDBC engine that ships inside the Spark distribution, "
    "so the sandbox's no-SQL-Server gap no longer blocks the live "
    "half): events land in a real Derby table through Spark's JDBC "
    "writer, the keyset-incremental protocol then ingests it in two "
    "batches through jdbc_keyset_reader's PUSHDOWN SUBQUERY (dialect="
    "'derby': quoted identifiers, microsecond-preserving VARCHAR "
    "watermark export — round-trip pinned by the live pytest), with "
    "the database GROWING between batches exactly like the reference's "
    "daily delta. Bronze must hold every source row exactly once — "
    "re-ingestion dups or equal-timestamp losses (the datetime2(7) bug "
    "class, main.tex:150) break the count oracle. The WHERE clause is "
    "evaluated BY THE DATABASE: incremental cost is proportional to "
    "the delta that crosses the wire, not the table.",
    skip_bench=True,  # JDBC staging write dominates the timing
)
def jdbc_live_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.jdbc import jdbc_keyset_reader

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    stage = tempfile.mkdtemp(prefix="spark_jdbc_live_")
    try:
        # route Derby's engine log into the stage dir (only effective
        # before the engine's first boot in this JVM; harmless after)
        spark._jvm.System.setProperty(
            "derby.stream.error.file", os.path.join(stage, "derby.log")
        )
        url = f"jdbc:derby:{stage}/db;create=true"
        bronze = os.path.join(stage, "bronze")
        store = WatermarkStore(spark, stage)
        cutoff = ev.select(
            F.percentile_approx("ts", 0.5).alias("m")
        ).collect()[0]["m"]

        def to_db(df: DataFrame, mode: str) -> None:
            (
                df.coalesce(2)
                .write.format("jdbc")
                .option("url", url)
                .option("dbtable", "events_src")
                .option("driver", _DERBY_DRIVER)
                .mode(mode)
                .save()
            )

        def ingest_batch() -> None:
            ks = store.read_keyset("events_src") or ("1900-01-01 00:00:00", -1)
            inc = jdbc_keyset_reader(
                spark, url, "events_src", "ts", "event_id",
                ks[0], ks[1], driver=_DERBY_DRIVER, dialect="derby",
            ).load()
            if inc.isEmpty():
                return
            inc.select("event_id", "ts", "event_type", "value").write.mode(
                "append"
            ).parquet(bronze)
            top = (
                inc.orderBy(F.col("ts").desc(), F.col("event_id").desc())
                .select("ts_str", "event_id")
                .first()
            )
            store.write_keyset("events_src", top["ts_str"], top["event_id"])

        to_db(ev.filter(F.col("ts") <= F.lit(cutoff)), "overwrite")
        ingest_batch()  # batch 1: the initial table
        to_db(ev.filter(F.col("ts") > F.lit(cutoff)), "append")
        ingest_batch()  # batch 2: exactly the delta, filtered IN the DB
        landed = spark.read.parquet(bronze)
        out = landed.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("ts").alias("max_ts"),
            stable_sum("value", 2).alias("total_value"),
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)

# scale_conf_advisor's fixed advisory constants, shared verbatim by the
# Spark plan and the oracle SQL: the reference parallelism the local
# per-partition row budget is derived from, the max/mean ratio above
# which salting beats trusting AQE, and the broadcast row cap.
_ADVISOR_PARTS = 32
_ADVISOR_SKEW_CAP = 8
_ADVISOR_BCAST_ROWS = 2_000_000
_ADVISOR_TABLES = (
    ("events", "user_id"),
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("customer", "c_custkey"),
)


def _advisor_oracle() -> str:
    per = "\n      UNION ALL\n      ".join(
        f"SELECT '{t}' AS table_name, CAST(sum(cnt) AS BIGINT) AS n_rows, "
        f"CAST(count(*) AS BIGINT) AS n_keys, CAST(max(cnt) AS BIGINT) AS "
        f"max_key_rows FROM (SELECT {k} AS k, count(*) AS cnt FROM {t} "
        f"GROUP BY 1)"
        for t, k in _ADVISOR_TABLES
    )
    return f"""
    WITH profile AS (
      {per}
    ),
    sized AS (
      SELECT *, greatest(n_rows // {_ADVISOR_PARTS}, 1) AS rpp FROM profile
    )
    SELECT table_name, n_rows, n_keys, max_key_rows,
           round(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows, 4)
               AS skew_ratio,
           CASE WHEN max_key_rows > rpp
                     AND max_key_rows * n_keys > {_ADVISOR_SKEW_CAP} * n_rows
                THEN 'salt' ELSE 'aqe' END AS skew_strategy,
           CAST(least(greatest((max_key_rows + rpp - 1) // rpp, 1), 64)
                AS BIGINT) AS salt_buckets,
           CASE WHEN n_rows <= {_ADVISOR_BCAST_ROWS} THEN 'broadcast'
                ELSE 'shuffle' END AS join_side
    FROM sized
    """


@query(
    "scale_conf_advisor",
    oracle=_advisor_oracle(),
    description="Cost-based tuning advisor: profiles each fact/dim table "
    "on its prospective shuffle key (rows, distinct keys, hottest-key "
    "mass - one hash agg per table, the event_user_skew_profile shape) "
    "and derives the scale decisions deterministically in-plan: "
    "skew_strategy='salt' only when the hottest key alone overflows a "
    "reference shuffle partition's row budget AND max/mean skew exceeds "
    f"{_ADVISOR_SKEW_CAP}x (otherwise AQE's runtime split suffices), "
    "salt_buckets sized so the hot key spreads to partition-budget "
    "chunks (capped at 64), join_side='broadcast' under "
    f"{_ADVISOR_BCAST_ROWS:,} rows. All verdict arithmetic is integer-"
    "exact so both dialects agree bit-for-bit. The collected rows feed "
    "session.autotune_scale_conf, which turns the same profile into "
    "concrete session confs for a target cluster (consistency pinned in "
    "tests/test_session.py). At 100 TB the profile costs one pass per "
    "table and replaces guesswork salting with measured thresholds.",
)
def scale_conf_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for t, k in _ADVISOR_TABLES:
        per_key = (
            load_table(spark, sf_dir, t)
            .groupBy(k)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        frames.append(
            per_key.agg(
                F.sum("cnt").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("cnt").cast("bigint").alias("max_key_rows"),
            ).select(F.lit(t).alias("table_name"), "*")
        )
    profile = frames[0]
    for f in frames[1:]:
        profile = profile.unionByName(f)
    sized = profile.withColumn(
        "rpp", F.expr(f"greatest(n_rows div {_ADVISOR_PARTS}, 1L)")
    )
    return sized.select(
        "table_name",
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.expr(
            "round(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows, 4)"
        ).alias("skew_ratio"),
        F.expr(
            f"CASE WHEN max_key_rows > rpp AND max_key_rows * n_keys > "
            f"{_ADVISOR_SKEW_CAP} * n_rows THEN 'salt' ELSE 'aqe' END"
        ).alias("skew_strategy"),
        F.expr(
            "CAST(least(greatest((max_key_rows + rpp - 1) div rpp, 1L), 64L) "
            "AS BIGINT)"
        ).alias("salt_buckets"),
        F.expr(
            f"CASE WHEN n_rows <= {_ADVISOR_BCAST_ROWS} THEN 'broadcast' "
            f"ELSE 'shuffle' END"
        ).alias("join_side"),
    )


@query(
    "dpp_partition_pruned_join",
    oracle="""
    WITH top_days AS (
        SELECT CAST(ts AS DATE) AS event_date,
               CAST(count(*) AS BIGINT) AS day_events
        FROM events GROUP BY 1
        ORDER BY day_events DESC, event_date ASC LIMIT 5
    )
    SELECT e.event_date, t.day_events,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_value,
           TRUE AS dpp_applied
    FROM (SELECT CAST(ts AS DATE) AS event_date, value FROM events) e
    JOIN top_days t USING (event_date)
    GROUP BY 1, 2
    """,
    description="DYNAMIC PARTITION PRUNING end-to-end — the runtime "
    "scale feature that makes star joins viable on partitioned 100 TB "
    "facts: events are written partitioned by event_date, then joined "
    "to a 5-row derived dim (top-5 busiest days); Catalyst injects a "
    "DynamicPruningExpression into the fact scan's PartitionFilters, "
    "so only the 5 matching date partitions are READ — without DPP "
    "the scan reads all ~30 partitions and discards rows after the "
    "join. The dpp_applied column is folded from the EXECUTED plan "
    "(PartitionFilters must carry dynamicpruning on the partitioned "
    "scan), so a Spark-conf or planner regression that silently "
    "disables DPP flips the value hash, exactly like the bootstrap "
    "gate's partition_col contract. Ranking of days is (count DESC, "
    "date ASC) — fully tie-deterministic.",
    skip_bench=True,  # staging write dominates the timing
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("event_date"), "value"
    )
    stage = tempfile.mkdtemp(prefix="spark_dpp_")
    try:
        path = os.path.join(stage, "events_by_day")
        ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
        fact = spark.read.parquet(path)
        top_days = (
            fact.groupBy("event_date")
            .agg(F.count(F.lit(1)).cast("bigint").alias("day_events"))
            .orderBy(F.col("day_events").desc(), F.col("event_date").asc())
            .limit(5)
            .localCheckpoint(eager=True)  # freeze the dim: its derivation
            # must not re-run inside the pruning subquery
            # the no-op filter below is LOAD-BEARING: Catalyst's
            # PartitionPruning rule only injects a pruning subquery when
            # the build side has a likely-selective predicate (a LIMIT/agg
            # alone does not qualify) — verified by the plan probe
            .filter(F.col("day_events") > 0)
        )
        joined = fact.join(F.broadcast(top_days), "event_date").groupBy(
            "event_date", "day_events"
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"),
                2,
            ).alias("total_value"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        dpp = "dynamicpruning" in plan.lower()
        out = joined.withColumn("dpp_applied", F.lit(bool(dpp)))
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query(
    "ledger_vacuum_stats",
    oracle="""
    WITH ev AS (SELECT count(*) AS n_even FROM orders WHERE o_orderkey % 2 = 0),
         od AS (
             SELECT CAST(count(*) AS BIGINT) AS n_odd,
                    round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10)))
                          AS DOUBLE), 2) AS total_odd
             FROM orders WHERE o_orderkey % 2 = 1
         )
    SELECT 'pre_vacuum_epochs' AS metric, CAST(2 AS DOUBLE) AS value FROM ev
    UNION ALL SELECT 'pre_epoch0_rows', CAST(n_even AS DOUBLE) FROM ev
    UNION ALL SELECT 'files_removed', CAST(4 AS DOUBLE) FROM ev
    UNION ALL SELECT 'staged_orphans_reclaimed', CAST(1 AS DOUBLE) FROM ev
    UNION ALL SELECT 'post_vacuum_epochs', CAST(1 AS DOUBLE) FROM ev
    UNION ALL SELECT 'post_epoch0_rows', CAST(0 AS DOUBLE) FROM ev
    UNION ALL SELECT 'post_head_rows', CAST(n_odd AS DOUBLE) FROM od
    UNION ALL SELECT 'post_head_total', total_odd FROM od
    """,
    description="VACUUM on the ledger sink (the Delta VACUUM analog, "
    "completing the table-maintenance trio: compact + time travel + "
    "retention GC): even orders land as epoch 0, a retain-ed overwrite "
    "publishes odd orders as epoch 1, a crash-orphaned .staged- file is "
    "planted with an old mtime, then vacuum_staged reclaims the orphan "
    "and vacuum_epochs removes every non-HEAD epoch (4 data files + "
    "manifests). The gate value-locks the whole contract: BEFORE vacuum "
    "both epochs resolve (epoch-0 pin readable, history length 2); "
    "AFTER, history is HEAD-only, the epoch-0 pin resolves to zero "
    "files (removed, never torn), and HEAD still reads the odd orders "
    "bit-exact (count + decimal-stable price sum vs the oracle\'s "
    "arithmetic rebuild) — proving vacuum cannot damage the live "
    "version. io/pyledger.py:181,262.",
    skip_bench=True,  # staging writes dominate the timing
)
def ledger_vacuum_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.io.pyledger import (
        history,
        register_ledger,
        vacuum_epochs,
        vacuum_staged,
    )

    register_ledger(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    stage = tempfile.mkdtemp(prefix="spark_ledger_vac_")
    path = os.path.join(stage, "ledger")
    try:
        orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4).write.format(
            "ledger"
        ).mode("append").option("path", path).save()
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(4).write.format(
            "ledger"
        ).mode("overwrite").option("path", path).option("retain", "true").save()

        def _read(epoch: int | None) -> DataFrame:
            r = (
                spark.read.format("ledger")
                .schema("o_orderkey bigint, o_totalprice double")
                .option("path", path)
            )
            if epoch is not None:
                r = r.option("epoch", str(epoch))
            return r.load()

        pre_epochs = len(history(path))
        pre_epoch0_rows = _read(0).count()

        # plant a crash-orphaned staged file older than the retention age
        orphan = os.path.join(path, ".staged-deadbeef.jsonl")
        with open(orphan, "w") as f:
            f.write("{}\n")
        os.utime(orphan, (1, 1))
        orphans_reclaimed = vacuum_staged(path, max_age_sec=3600)

        files_removed = vacuum_epochs(path)
        post_epochs = len(history(path))
        post_epoch0_rows = _read(0).count()
        head = _read(None)
        head_stats = head.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            stable_sum("o_totalprice", 2).alias("tot"),
        ).collect()[0]

        return spark.createDataFrame(
            [
                ("pre_vacuum_epochs", float(pre_epochs)),
                ("pre_epoch0_rows", float(pre_epoch0_rows)),
                ("files_removed", float(files_removed)),
                ("staged_orphans_reclaimed", float(orphans_reclaimed)),
                ("post_vacuum_epochs", float(post_epochs)),
                ("post_epoch0_rows", float(post_epoch0_rows)),
                ("post_head_rows", float(head_stats["n"])),
                ("post_head_total", float(head_stats["tot"])),
            ],
            "metric string, value double",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
