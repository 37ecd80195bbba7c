"""SparkSession factory.

Replaces the reference's ``create_spark`` config module
(``spark-apps/smartpool_config.py:57-103``) with a scale-oriented factory:

* AQE **on** (the reference disabled it and pinned ``shuffle.partitions=6``,
  ``smartpool_config.py:64-65`` — correct for a 2-worker toy cluster, wrong
  at scale; AQE coalesces shuffle partitions, re-plans skew joins and
  converts sort-merge joins to broadcast at runtime).
* UTC session timezone by default (the reference pinned Europe/Madrid,
  ``smartpool_config.py:63``; UTC keeps event-time arithmetic stable and
  matches the test oracle).
* Parquet nanosecond timestamps read as longs (legacy conf) so sources
  written with ns precision are loadable; the catalog converts them to
  microsecond timestamps losslessly for µs-precision data.
* Local masters run Python workers under the engine's daemon
  (``pyworker_daemon.py``), which keeps a worker's zip-import caches while
  the archives are unchanged instead of re-reading ``pyspark.zip`` at the
  start of every task (SCALE.md §1). Set only when the workers can import
  the package (``_workers_import_engine``); a caller's
  ``spark.python.daemon.module`` wins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every engine session needs. Kept separate from the
# builder so they can also be applied to an externally created session
# (e.g. the verification driver's) via ``apply_runtime_confs``.
RUNTIME_CONFS: dict[str, str] = {
    # ns-timestamp parquet columns surface as LongType instead of erroring
    # with PARQUET_TYPE_ILLEGAL; catalog.load_table converts them.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any toPandas / pandas_udf path (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Allow custom Python data sources to implement pushFilters
    # (io/pydatasource.py) — off by default in Spark 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Pin UTC on ANY session the engine touches (runtime-settable):
    # NTZ→LTZ casts, unix_timestamp and date casts must match the
    # naive-timestamp oracle even when the engine runs inside an
    # externally created session (e.g. the verification driver's).
    "spark.sql.session.timeZone": "UTC",
}

BUILDER_CONFS: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic broadcast conversion. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Sized for local[*] test runs; a real cluster deployment overrides via
    # spark-submit conf (partitions ≈ 2-3× total cores, or rely on AQE).
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # Stable plans for tests; harmless in prod.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.showConsoleProgress": "false",
}


def _default_local_driver_mem(cap_mb: int = 8192, floor_mb: int = 1024) -> str:
    """Driver-heap default for local[N] masters: half of physical RAM,
    clamped to [1g, 8g]. An unconditional 8g fails JVM launch (or trips
    the OOM killer) on small CI hosts; ``SPARK_GRAFT_DRIVER_MEM`` stays
    the explicit override for both directions."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return f"{cap_mb}m"
    half_mb = int(total // (2 * 1024 * 1024))
    return f"{max(floor_mb, min(cap_mb, half_mb))}m"


def _workers_import_engine() -> bool:
    """Whether Python workers started by this process's JVM can import the
    package: ``python -m`` puts the JVM's working directory on a worker's
    path, and Spark passes ``PYTHONPATH`` on. The JVM inherits both from
    this process when it launches. A worker that cannot import the daemon
    module fails every Python task, so anything else keeps Spark's own
    daemon."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if not os.environ.get("PYTHONSAFEPATH"):
        paths.append(os.getcwd())
    return any(p and os.path.realpath(p) == root for p in paths)


def session_builder(
    app_name: str = "smartpool-bigdata-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Return a configured builder; caller may tweak before getOrCreate()."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        # Local dev/test default; on a cluster, spark-submit supplies master.
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    confs = {**BUILDER_CONFS, **RUNTIME_CONFS, **(extra_confs or {})}
    if master.startswith("local") and "spark.driver.memory" not in confs:
        # local[N] puts driver + all N executor threads in ONE JVM; the 1 GB
        # spark-submit default gives 32 concurrent tasks ~13 MB of execution
        # memory each, which OOMs any join fan-out that must spill-merge.
        # A real cluster sizes executors via spark-submit; this conf only
        # takes effect at JVM launch, so it is a no-op on an existing gateway.
        confs["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_local_driver_mem()
        )
    if (
        master.startswith("local")
        and "spark.python.daemon.module" not in confs
        and _workers_import_engine()
    ):
        confs["spark.python.daemon.module"] = "smartpool_bigdata_spark.pyworker_daemon"
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    ``catalog.load_table`` depends on ``nanosAsLong`` taking effect; a
    locked-down session that silently rejects it would otherwise fail much
    later with an opaque PARQUET_TYPE_ILLEGAL, so verify the conf stuck.
    """
    import warnings

    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            warnings.warn(f"could not set {k}={v!r}: {exc}", stacklevel=2)
            continue
        applied = spark.conf.get(k, None)
        if applied != v:
            warnings.warn(
                f"conf {k} did not take effect (wanted {v!r}, got {applied!r}); "
                "ns-timestamp parquet reads may fail or skip normalization",
                stacklevel=2,
            )
    return spark


def scale_conf(
    total_cores: int,
    input_bytes: int,
    target_partition_bytes: int = 128 * 1024 * 1024,
    partitions_per_core: int = 3,
) -> dict[str, str]:
    """Concrete shuffle/scan sizing for a real cluster run.

    The two levers that actually move at 100 TB:

    * ``shuffle.partitions`` — enough that one shuffle partition of the
      LARGEST shuffle fits comfortably in executor memory, and at least
      ``partitions_per_core × cores`` so stragglers rebalance. AQE then
      coalesces small ones back down, so erring high is cheap.
    * ``files.maxPartitionBytes`` — scan-task granularity; 128 MB keeps a
      scan task's columnar batches inside a few hundred MB of heap.

    Example: 100 TB input on 1000 executors × 4 cores →
    ``scale_conf(4000, 100e12)`` → ~780k scan tasks (fine — they stream),
    shuffle.partitions = max(12000, input/128MB capped at 200k).
    """
    by_size = min(200_000, max(1, input_bytes // target_partition_bytes))
    by_cores = total_cores * partitions_per_core
    return {
        "spark.sql.shuffle.partitions": str(max(by_cores, min(by_size, 50 * total_cores))),
        "spark.sql.files.maxPartitionBytes": str(target_partition_bytes),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }


def autotune_scale_conf(
    table_stats,
    total_cores: int,
    bytes_per_row: int = 256,
    target_partition_bytes: int = 128 * 1024 * 1024,
    broadcast_row_cap: int = 2_000_000,
    skew_ratio_cap: float = 8.0,
) -> dict:
    """Cost-based extension of ``scale_conf``: turn MEASURED table
    profiles into concrete session confs plus per-table join/skew
    advice, instead of guessing from cluster shape alone.

    ``table_stats`` rows are what the ``scale_conf_advisor`` gate query
    (and the ``event_user_skew_profile`` family) already produce:
    ``{"table_name", "n_rows", "n_keys", "max_key_rows"}`` for each
    fact table keyed by its prospective shuffle key. The tuner:

    * sizes ``shuffle.partitions`` from ESTIMATED input bytes
      (rows x ``bytes_per_row``) via ``scale_conf`` — erring high is
      cheap because AQE coalesces;
    * flags a table ``skew_strategy='salt'`` only when BOTH hold: its
      hottest key alone overflows one target shuffle partition's row
      budget AND the max/mean ratio exceeds ``skew_ratio_cap`` —
      otherwise AQE's runtime skew split is enough and salting would
      pay replication for nothing;
    * sizes ``salt_buckets`` so the hottest key spreads to roughly
      partition-budget chunks (capped at 64 — past that the salted
      aggregate's combine fan-in dominates);
    * flags ``agg_strategy='salt'`` under the overflow condition ALONE
      (no ratio guard): AQE's runtime skew split only applies to JOIN
      sides — a hash-AGGREGATE group must reduce on one partition, so
      any key whose rows overflow the partition budget needs the
      two-stage salted aggregate regardless of how uniform the rest of
      the key distribution is (the classic low-cardinality groupBy);
    * marks tables under ``broadcast_row_cap`` rows as broadcast-side
      candidates.

    Pure driver-side arithmetic over a handful of profile rows — call
    it with the collected advisor output, apply ``confs`` at session
    build, and feed ``advice`` to the salted-op helpers.
    """
    input_bytes = sum(int(t["n_rows"]) * bytes_per_row for t in table_stats)
    confs = scale_conf(total_cores, input_bytes, target_partition_bytes)
    shuffle_parts = int(confs["spark.sql.shuffle.partitions"])
    advice: dict[str, dict] = {}
    for t in table_stats:
        n_rows = int(t["n_rows"])
        n_keys = max(int(t["n_keys"]), 1)
        mx = int(t["max_key_rows"])
        ratio = mx * n_keys / max(n_rows, 1)
        rows_per_partition = max(1, n_rows // max(shuffle_parts, 1))
        hot_key_overflows = mx > rows_per_partition
        advice[t["table_name"]] = {
            "broadcast": n_rows <= broadcast_row_cap,
            "skew_strategy": (
                "salt" if hot_key_overflows and ratio > skew_ratio_cap else "aqe"
            ),
            "agg_strategy": "salt" if hot_key_overflows else "plain",
            "salt_buckets": max(1, min(64, -(-mx // rows_per_partition))),
            "skew_ratio": round(ratio, 2),
        }
    return {"confs": confs, "advice": advice}


def get_spark(
    app_name: str = "smartpool-bigdata-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    spark = session_builder(app_name, master, extra_confs).getOrCreate()
    return apply_runtime_confs(spark)
