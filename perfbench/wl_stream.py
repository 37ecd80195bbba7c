"""``sensor_stream``: the reference 4-query sensor topology under an
open-loop feed.

A separate generator process (``sensorgen.py``) writes a JSON-lines file
of 200 sensor events every 0.2 s (1,000 events/s) into a landing
directory. Four concurrent queries consume it, each with its own
checkpoint and processing-time trigger, chained through file sinks:
Bronze (raw lines), Silver (parsed, both event-time variants, validity
ranges), Gold (1-minute windows per pool under a 2-minute watermark, in
the state store) and Enrich (Silver joined to the static latest
``pools_dim``).

Operation: one Silver micro-batch. Its latency is the time the batch
became visible in Silver (its sink-log file) minus the due time of the
oldest event in it, so a stall anywhere upstream, the generator's
included, counts. The window is the generator's schedule; batches that
drain the backlog after it still count as samples. Check, after the
run: Silver holds every valid generated event exactly once.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from collections import Counter
from urllib.parse import urlparse

import pyarrow.parquet as pq

import datagen
import sensorgen
from common import Result, lateness
from harness import BENCH_DIR, StatusStore, canaries, log, rss_mb, start_session

HOPS = ("bronze", "silver", "gold", "enrich")
STREAM_CONFS = {
    # No sink/source log compaction, so each Silver batch's files and
    # commit time can be read back from its own log file after the run.
    "spark.sql.streaming.fileSink.log.compactInterval": "1000000",
    "spark.sql.streaming.fileSource.log.compactInterval": "1000000",
    "spark.sql.streaming.numRecentProgressUpdates": "100000",
    # Gold's state store: one partition per core.
    "spark.sql.shuffle.partitions": "4",
}
# Processing-time triggers: Bronze and Silver every 2 s, the Gold window
# and Enrich every 5 s, as a dashboard refresh would. Each batch then
# fits inside its interval on 4 cores even when the host runs slow, so
# lag is steady from run to run. With back-to-back triggers the four
# queries' batches interleave differently in every run and the median
# lag spread 16-35 % across seeds; with Bronze and Silver at 1 s, Silver
# overran its interval in 2 of 10 runs and their lag rose by a third.
TRIGGERS = {"bronze": "2 seconds", "silver": "2 seconds", "gold": "5 seconds", "enrich": "5 seconds"}
RAW_SCHEMA = (
    "event_id long, pool_id int, sensor_ts string, ts string, ph double, "
    "chlorine_mg_l double, temp_c double, turbidity_ntu double, "
    "water_level_pct double, pump_kwh_est double, created_at double"
)


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


class Topology:
    """One landing directory and the four queries reading it."""

    def __init__(self, spark, root: str, pools_path: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.pools_path = pools_path
        self.landing = self._dir("landing")
        self.queries: dict = {}
        self.files = 0
        self.warm_batches: dict[str, int] = {}

    def _dir(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def _sink(self, hop: str, df) -> None:
        from smartpool_bigdata_spark.streaming import start_file_sink

        self.queries[hop] = start_file_sink(
            df, self._dir(hop), self._dir("checkpoints", hop),
            trigger={"processingTime": TRIGGERS[hop]}, query_name=hop)

    def start(self) -> None:
        """Start the four queries and put one warm-up file through every
        hop: codegen, the state store and first scans."""
        from pyspark.sql import functions as F

        from smartpool_bigdata_spark.streaming import (file_stream, parse_json_payload,
                                                       stream_static_enrich, watermarked_tumbling_agg)

        # The warm-up file lands first and each hop starts once the hop
        # before it has taken the file, so every hop's first batch, which
        # runs as soon as the query starts, has it: set-up never waits
        # for a trigger interval.
        sensorgen.write_file(self.landing, self.seed, 0, time.time())
        self.files = 1
        sp = self.spark
        raw = file_stream(sp, self.landing, "value string", fmt="text")
        bronze = raw.withColumn("ingest_ts", F.current_timestamp())
        self._sink("bronze", bronze)
        self.drain(("bronze",))

        parsed = parse_json_payload(file_stream(sp, os.path.join(self.root, "bronze"), bronze.schema),
                                    RAW_SCHEMA)
        event_time = F.coalesce(F.to_timestamp("sensor_ts"), F.to_timestamp("ts"))
        valid = event_time.isNotNull() & F.col("pool_id").isNotNull()
        for c, (lo, hi) in sensorgen.VALID.items():
            valid = valid & F.col(c).between(lo, hi)
        silver = parsed.filter(valid).select(
            "event_id", "pool_id", event_time.alias("event_time"), *sensorgen.VALID,
            F.coalesce("pump_kwh_est", F.lit(0.0)).alias("pump_kwh_est"), "created_at")
        self._sink("silver", silver)
        self.drain(("silver",))

        def silver_in():
            return file_stream(sp, os.path.join(self.root, "silver"), silver.schema)

        alert = (~F.col("ph").between(7.1, 7.8)) | (~F.col("chlorine_mg_l").between(0.4, 1.5))
        gold = watermarked_tumbling_agg(silver_in(), "event_time", "2 minutes", "1 minute", ["pool_id"], {
            "n_readings": F.count(F.lit(1)),
            "avg_ph": F.avg("ph"),
            "avg_chlorine": F.avg("chlorine_mg_l"),
            "max_temp_c": F.max("temp_c"),
            "pump_kwh": F.sum("pump_kwh_est"),
            "alerts": F.sum(F.when(alert, 1).otherwise(0)),
        })
        self._sink("gold", gold)

        pools = sp.read.parquet(self.pools_path).select("pool_id", "pool_name", "owner_type")
        self._sink("enrich", stream_static_enrich(silver_in(), pools, on="pool_id"))
        self.drain(("gold", "enrich"))
        self.mark_batches()

    def mark_batches(self) -> None:
        """Remember each hop's last batch: later ones belong to the next window."""
        self.warm_batches = {h: q.lastProgress["batchId"] for h, q in self.queries.items()}

    def drain(self, hops) -> None:
        """Block until each of ``hops`` has processed all the input it has."""
        for hop in hops:
            self.queries[hop].processAllAvailable()

    def stop(self) -> None:
        from smartpool_bigdata_spark.streaming import stop_all

        stop_all(list(self.queries.values()))

    def window(self, seconds: float) -> dict:
        """Feed ``seconds`` of events on the open-loop schedule, drain,
        and return the run's measurements."""
        n_files = max(1, round(seconds / sensorgen.INTERVAL_S))
        start = time.time() + 0.5
        proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "sensorgen.py"), "--out", self.landing,
             "--seed", str(self.seed), "--start", repr(start), "--first", str(self.files),
             "--files", str(n_files)],
            stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=seconds + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"generator exited with {proc.returncode}")
        gen = json.loads(out.strip().splitlines()[-1])
        end = start + n_files * sensorgen.INTERVAL_S
        ingested = sum(p["numInputRows"] for p in _progress(self.queries["bronze"]))
        self.files += n_files
        backlog = (self.files * sensorgen.EVENTS_PER_FILE - ingested) / sensorgen.EVENTS_PER_FILE
        self.drain(("bronze", "silver"))  # all the checked Silver needs
        return {"start": start, "end": end, "late": lateness(gen["due"], gen["done"]),
                "backlog_files": backlog,
                "progress": {h: _progress(q) for h, q in self.queries.items()}}

    def silver_batches(self) -> list[tuple[float, list[str]]]:
        """(commit time, data files) of each Silver batch, from its sink log."""
        log_dir = os.path.join(self.root, "silver", "_spark_metadata")
        out = []
        for name in sorted((n for n in os.listdir(log_dir) if n.isdigit()), key=int):
            path = os.path.join(log_dir, name)
            with open(path) as f:
                entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
            out.append((os.stat(path).st_mtime, [urlparse(e["path"]).path for e in entries]))
        return out

    def check_silver(self, batches) -> bool:
        """Every valid generated event in Silver, each exactly once."""
        seen = Counter()
        for _, files in batches:
            for f in files:
                seen.update(pq.read_table(f, columns=["event_id"]).column(0).to_pylist())
        want = {ev["event_id"] for k in range(self.files) for ev in sensorgen.events(self.seed, k)
                if sensorgen.is_valid(ev)}
        dupes = sum(1 for c in seen.values() if c > 1)
        if set(seen) != want or dupes:
            log(f"Silver: {len(want - set(seen))} valid events missing, "
                f"{len(set(seen) - want)} unexpected, {dupes} duplicated")
            return False
        return True


def _lags(batches, window: dict) -> tuple[list[float], list[float]]:
    """Lag of each Silver batch holding window events, and the commit
    times of those that committed inside the window."""
    lat, commits = [], []
    for commit, files in batches:
        if not files:
            continue
        oldest = min(pq.read_table(f, columns=["created_at"]).column(0).to_numpy().min() for f in files)
        if oldest < window["start"]:
            continue  # the warm-up file
        lat.append(commit - float(oldest))
        if commit <= window["end"]:
            commits.append(commit)
    return lat, commits


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(w: dict, warm: dict[str, int]) -> dict[str, float]:
    """The streaming per-layer metrics from each hop's progress reports
    (batches after warm-up that read input)."""
    data = {h: [p for p in w["progress"][h] if p["batchId"] > warm[h] and p["numInputRows"] > 0]
            for h in HOPS}
    out = {}
    for h in HOPS:
        out[f"stream.{h}.trigger_ms_p50"] = _median([p["durationMs"]["triggerExecution"] for p in data[h]])
        out[f"stream.{h}.add_batch_ms_p50"] = _median([p["durationMs"].get("addBatch", 0) for p in data[h]])
    every = [p for h in HOPS for p in data[h]]
    out["stream.query_planning_ms_p50"] = _median([p["durationMs"].get("queryPlanning", 0) for p in every])
    out["stream.wal_commit_ms_p50"] = _median([p["durationMs"].get("walCommit", 0) for p in every])
    gold = [p for p in w["progress"]["gold"] if p["batchId"] > warm["gold"] and p["stateOperators"]]
    ops = [p["stateOperators"][0] for p in gold]
    out["stream.gold.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
    out["stream.gold.state_memory_bytes"] = ops[-1]["memoryUsedBytes"] if ops else 0
    out["stream.gold.state_commit_ms_p50"] = _median([o["commitTimeMs"] for o in ops])
    out["stream.gold.rows_dropped_by_watermark"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    out["stream.backlog_files_end"] = w["backlog_files"]
    out["generator.late_s_max"] = max(w["late"])
    return out


def _silver_pools(seed: int):
    """The Silver ``pools_dim``: the latest version of each pool."""
    dim = datagen.pools_dim(seed, sensorgen.N_POOLS).sort_by([("updated_at", "ascending")])
    last = {p: i for i, p in enumerate(dim.column("pool_id").to_pylist())}
    return dim.take(sorted(last.values()))


def run(args, scratch) -> Result:
    res = Result()
    t0 = time.perf_counter()
    spark = start_session(scratch)
    for k, v in STREAM_CONFS.items():
        spark.conf.set(k, v)
    pools_path = os.path.join(scratch.path("dims"), "pools_dim.parquet")
    pq.write_table(_silver_pools(args.seed), pools_path)
    topo = Topology(spark, scratch.path("stream"), pools_path, args.seed)
    topo.start()
    setup_s = time.perf_counter() - t0

    plain_lat = None
    if args.trace:
        # Untraced window first, on the same topology: the traced one's
        # difference is the overhead.
        w = topo.window(args.seconds)
        plain_lat, _ = _lags(topo.silver_batches(), w)
        topo.mark_batches()
        store = StatusStore(spark)
        mark = store.mark()
    try:
        w = topo.window(args.seconds)
    except Exception as exc:
        topo.stop()
        log(f"stream window: {type(exc).__name__}: {str(exc)[:300]}")
        res.attempted, res.failed, res.correct = 1, 1, False
        return res
    topo.stop()
    batches = topo.silver_batches()
    lat, commits = _lags(batches, w)
    res.attempted = max(1, len(lat))
    if len(commits) < 2 or not topo.check_silver(batches):
        res.failed = res.attempted
        res.correct = False
        return res

    if not args.trace:
        res.metrics = {
            "setup_s": setup_s,
            # Batch rate between the first and last commit in the window.
            "ops_per_s": (len(commits) - 1) / (commits[-1] - commits[0]),
            "peak_rss_mb": rss_mb(),
        }
    else:
        counters = store.window(mark)
        res.metrics = {k: v / len(lat) for k, v in counters.items()}
        res.metrics.update(_layer_metrics(w, topo.warm_batches))
        res.metrics["trace.overhead_s"] = statistics.median(lat) - statistics.median(plain_lat)
        res.diagnostics.update(canaries(spark))
    res.latencies = lat
    res.diagnostics.update({
        "generator_late_s_max": round(max(w["late"]), 4),
        "generator_files": topo.files - 1,
        "silver_batches_in_window": len(commits),
        "latency_s": [round(x, 3) for x in lat],
    })
    return res
