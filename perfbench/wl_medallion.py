"""``medallion_incremental``: one increment at a time, from its landing to
refreshed Gold tables, on a lake that grows for the whole run.

Operation: ``MedallionPipeline.bronze_ingest`` (keyset watermark over the
landing directory) → ``silver_merge`` (``latest_by_key``, then
``Suite.validate``, then ``merge_upsert``) → three Gold builds of the
reference job-04 shapes: daily aggregates, the latest event per pool
joined to ``pools_dim``, and the ``map_lookup`` energy cost model.

Each increment is landed (written as parquet by the generator) before
its timer starts. Silver re-deduplicates all of Bronze and rewrites all
of Silver on every increment, so cost per increment climbs with the
table. Check, after the window: the final Gold tables equal a DuckDB
batch recompute over every generated row.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

import datagen
from common import Patcher, Result, Tracer, result_digest
from harness import StatusStore, canaries, log, release_caches, rss_mb, start_session

ROWS = 5_000  # per increment
# An increment takes about 5 s on 4 cores, so a short window still runs
# three: the first (the first MERGE that updates earlier ids, and slower)
# then lies above the median instead of being half of it.
MIN_OPS = 3
N_POOLS = 40
KWH = {"chlorine": 0.8, "ph_correction": 0.5, "filter_backwash": 3.5, "refill": 6.0}
AUDIT_SOURCE = "landing"

GOLD_SQL = {
    "daily": """
        SELECT CAST(event_time AS DATE) AS day, intervention_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(product_amount AS DECIMAL(38,10))) AS DOUBLE), 3) AS amount
        FROM silver WHERE intervention_type IN ('chlorine','ph_correction','filter_backwash','refill')
        GROUP BY 1, 2""",
    "latest_per_pool": """
        SELECT pool_id, id, event_time, intervention_type, pool_name, owner_type FROM (
          SELECT s.pool_id, s.id, s.event_time, s.intervention_type, p.pool_name, p.owner_type,
                 row_number() OVER (PARTITION BY s.pool_id ORDER BY s.event_time DESC, s.id DESC) AS rn
          FROM silver s JOIN pools p ON s.pool_id = p.pool_id) WHERE rn = 1""",
    "cost_model": """
        SELECT pool_id, CAST(event_time AS DATE) AS day,
               round(sum(CASE intervention_type WHEN 'chlorine' THEN 0.8 WHEN 'ph_correction' THEN 0.5
                     WHEN 'filter_backwash' THEN 3.5 WHEN 'refill' THEN 6.0 ELSE 0.0 END::DOUBLE), 3) AS est_kwh
        FROM silver GROUP BY 1, 2""",
}


def _gold_builds():
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.ops.relational import latest_by_key, map_lookup

    def daily(frames):
        ev = frames["silver.maintenance_events"]
        return ev.filter(F.col("intervention_type").isin(list(KWH))).groupBy(
            F.col("event_time").cast("date").alias("day"), "intervention_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("product_amount").cast("decimal(38,10)")).cast("double"), 3).alias("amount"),
        )

    def latest_per_pool(frames):
        ev, pools = frames["silver.maintenance_events"], frames["silver.pools_dim"]
        joined = ev.join(F.broadcast(pools.select("pool_id", "pool_name", "owner_type")), "pool_id")
        return latest_by_key(joined, ["pool_id"], [F.col("event_time").desc(), F.col("id").desc()]).select(
            "pool_id", "id", "event_time", "intervention_type", "pool_name", "owner_type")

    def cost_model(frames):
        ev = frames["silver.maintenance_events"]
        return ev.groupBy("pool_id", F.col("event_time").cast("date").alias("day")).agg(
            F.round(F.sum(map_lookup(KWH, F.col("intervention_type"), 0.0)), 3).alias("est_kwh"))

    return {"daily": daily, "latest_per_pool": latest_per_pool, "cost_model": cost_model}


class Lake:
    """One lake root: landing directory, catalog, pipeline."""

    def __init__(self, spark, root: str, seed: int):
        from pyspark.sql import functions as F

        from smartpool_bigdata_spark.catalog import Catalog
        from smartpool_bigdata_spark.expectations import NotNull, Suite, Unique
        from smartpool_bigdata_spark.pipelines import MedallionPipeline

        self.spark, self.root, self.seed = spark, root, seed
        self.landing = os.path.join(root, "landing", "maintenance_events")
        os.makedirs(self.landing, exist_ok=True)
        self.catalog = Catalog(root=os.path.join(root, "lake"))
        self.pipe = MedallionPipeline(spark, self.catalog)
        self.audit_ts = F.lit("2024-03-01 00:00:00").cast("timestamp")
        self.order = [F.col("updated_at").desc(), F.col("id").desc()]
        self.suite = Suite([NotNull(["id", "pool_id", "event_time", "updated_at"]), Unique(["id"])])
        self.builds = _gold_builds()
        self.k = 0
        pq.write_table(datagen.pools_dim(seed, N_POOLS), os.path.join(root, "pools_dim.parquet"))
        pools = spark.read.parquet(os.path.join(root, "pools_dim.parquet"))
        self.pipe.bronze_ingest("pools_dim", pools, "updated_at", pk_col="pool_id",
                                audit_source=AUDIT_SOURCE, audit_ts=self.audit_ts)
        self.pipe.silver_snapshot("pools_dim", keys=["pool_id"],
                                  order_by=[F.col("updated_at").desc(), F.col("pool_id").desc()])

    def land(self) -> int:
        """Write the next increment into the landing directory."""
        tbl = datagen.maintenance_increment(self.seed, self.k, ROWS, N_POOLS)
        pq.write_table(tbl, os.path.join(self.landing, f"part-{self.k:05d}.parquet"))
        self.k += 1
        return tbl.num_rows

    def increment(self, tracer: Tracer | None = None) -> None:
        """The timed operation: Bronze → Silver → Gold for what landed."""
        span = tracer.span if tracer is not None else _nospan
        source = self.spark.read.parquet(self.landing)
        with span("medallion.bronze_ingest"):
            if not self.pipe.bronze_ingest("maintenance_events", source, "updated_at", pk_col="id",
                                           audit_source=AUDIT_SOURCE, audit_ts=self.audit_ts):
                raise RuntimeError("landed increment was not ingested")
        with span("medallion.silver_merge"):
            self.pipe.silver_merge("maintenance_events", keys=["id"], order_by=self.order,
                                   expectations=self.suite)
        for name, build in self.builds.items():
            with span("medallion.gold"):
                self.pipe.gold(name, build, inputs=["silver.maintenance_events", "silver.pools_dim"])

    def gold_digests(self) -> dict[str, str]:
        out = {}
        for name in self.builds:
            df = self.catalog.read(self.spark, f"gold.{name}")
            out[name] = result_digest([r.asDict() for r in df.collect()], df.columns)
        return out

    def oracle_digests(self) -> dict[str, str]:
        """Gold recomputed in DuckDB from every landed row."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"""CREATE VIEW silver AS SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY id ORDER BY updated_at DESC, id DESC) AS rn
            FROM read_parquet('{self.landing}/*.parquet')) WHERE rn = 1""")
        con.execute(f"""CREATE VIEW pools AS SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY pool_id ORDER BY updated_at DESC, pool_id DESC) AS rn
            FROM read_parquet('{self.root}/pools_dim.parquet')) WHERE rn = 1""")
        out = {}
        for name, sql in GOLD_SQL.items():
            tbl = con.execute(sql).fetch_arrow_table()
            out[name] = result_digest(tbl.to_pylist(), tbl.column_names)
        con.close()
        return out


class _nospan:
    def __init__(self, _name):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _instrument(tracer: Tracer, patcher: Patcher) -> None:
    """Spans around the layer calls the pipeline makes."""
    from smartpool_bigdata_spark import catalog, expectations, state
    from smartpool_bigdata_spark.pipelines import medallion

    patcher.set(medallion, "merge_upsert", tracer.wrap(medallion.merge_upsert, "io.sinks.merge_upsert"))
    patcher.set(medallion, "latest_by_key", tracer.wrap(medallion.latest_by_key, "ops.latest_by_key"))
    patcher.set(expectations.Suite, "validate", tracer.wrap(expectations.Suite.validate, "expectations.validate"))
    patcher.set(catalog.Catalog, "write", tracer.wrap(catalog.Catalog.write, "catalog.write"))
    for fn in ("read_keyset", "write_keyset"):
        patcher.set(state.WatermarkStore, fn, tracer.wrap(
            getattr(state.WatermarkStore, fn), "state.watermark_io", counter="state.watermark_io_calls"))


def _data_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _window(lake: Lake, seconds: float, res: Result, tracer: Tracer | None = None):
    lat, delta_rows, written = [], [], []
    t_start = time.perf_counter()
    while len(lat) < MIN_OPS or time.perf_counter() - t_start < seconds:
        rows = lake.land()
        release_caches(lake.spark)
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                lake.increment()
            else:
                tracer.op = res.attempted
                with tracer.span("op"):
                    lake.increment(tracer)
        except Exception as exc:  # counted, and the run stops: later increments depend on it
            res.failed += 1
            log(f"increment {lake.k}: {type(exc).__name__}: {str(exc)[:300]}")
            break
        lat.append(time.perf_counter() - t0)
        if tracer is not None:
            delta_rows.append(rows)
            written.append(lake.catalog.read(lake.spark, "silver.maintenance_events").count())
    return lat, time.perf_counter() - t_start, delta_rows, written


def _ready_lake(spark, root: str, seed: int) -> Lake:
    """A lake past its warm-up: pools_dim in Silver and the initial load."""
    lake = Lake(spark, root, seed)
    lake.land()
    lake.increment()
    return lake


def run(args, scratch) -> Result:
    res = Result()
    t0 = time.perf_counter()  # JVM launch to the end of warm-up
    spark = start_session(scratch)
    lake = _ready_lake(spark, scratch.path("lake"), args.seed)
    setup_s = time.perf_counter() - t0

    tracer = patcher = None
    if args.trace:
        plain, _, _, _ = _window(lake, args.seconds, Result())
        lake = _ready_lake(spark, scratch.path("traced"), args.seed)
        tracer, patcher = Tracer(), Patcher()
        _instrument(tracer, patcher)
        store = StatusStore(spark)
        mark = store.mark()
    try:
        lat, window, delta_rows, written = _window(lake, args.seconds, res, tracer)
    finally:
        if patcher is not None:
            patcher.restore()

    got, want = lake.gold_digests(), lake.oracle_digests()
    bad = [n for n in want if got[n] != want[n]]
    if bad:
        log(f"Gold differs from the batch recompute: {bad}")
        res.failed = res.attempted
        res.correct = False

    if not args.trace:
        res.metrics = {
            "setup_s": setup_s,
            "ops_per_s": len(lat) / window,
            "peak_rss_mb": rss_mb(),
        }
    else:
        n = max(1, len(lat))
        counters = store.window(mark)
        res.metrics = {k: v / n for k, v in counters.items()}
        spans = {
            "medallion.bronze_ingest_s": "medallion.bronze_ingest",
            "medallion.silver_merge_s": "medallion.silver_merge",
            "io.sinks.merge_upsert_s": "io.sinks.merge_upsert",
            "expectations.validate_s": "expectations.validate",
            "catalog.write_s": "catalog.write",
            "state.watermark_io_s": "state.watermark_io",
            "medallion.gold_s": "medallion.gold",
        }
        for metric, span in spans.items():
            res.metrics[metric] = sum(tracer.durations(span)) / n
        res.metrics["state.watermark_io_calls"] = tracer.counts.get("state.watermark_io_calls", 0) / n
        res.metrics["io.sinks.merge_rows_written_per_delta_row"] = sum(written) / max(1, sum(delta_rows))
        tables = [d.path for d in lake.catalog.datasets.values() if not d.name.startswith("bronze.")]
        res.metrics["catalog.files_per_table"] = sum(_data_files(p) for p in tables) / len(tables)
        res.metrics["trace.overhead_s"] = statistics.median(lat) - statistics.median(plain)
        res.diagnostics.update(canaries(spark))
        res.diagnostics.update({f"self_s.{k}": round(v, 4) for k, v in tracer.self_times().items()})
        res.diagnostics["spans_file"] = scratch.keep_spans(tracer, args)
    res.latencies = lat
    res.diagnostics.update({
        "samples": len(lat), "increments": lake.k, "increment_rows": ROWS,
        "latency_s": [round(x, 3) for x in lat]})
    release_caches(spark)
    spark.stop()
    return res
