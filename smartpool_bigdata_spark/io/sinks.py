"""Table-maintenance sinks (S12/S13/S14/S18) on the parquet test substrate.

The reference uses Delta for these (MERGE, mergeSchema, ensure-empty,
DESCRIBE DETAIL). Delta isn't on this classpath, so each op is implemented
with equivalent semantics over parquet — the call shapes and docstrings map
1:1 to the Delta forms a cluster deployment would swap in.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from smartpool_bigdata_spark.catalog import data_files
from smartpool_bigdata_spark.ops.relational import latest_by_key


def _exists(spark: SparkSession | None, path: str) -> bool:
    """Whether ``path`` holds a table: a file, or a directory with at least
    one data file (a zero-row write still leaves one). A driver-side
    filesystem check — no schema-inference job. ``spark`` is unused and
    kept for the call shape."""
    return os.path.isfile(path) or bool(data_files(path))


def recover_swap(path: str) -> None:
    """Undo a table swap that a crash cut short. ``_swap`` renames the
    table to ``<path>__old_<id>`` and the stage to ``path``; a crash
    between the two renames leaves no table at ``path``, and the next
    writer would start from nothing. Put the old copy back, then drop
    leftover old copies and stages."""
    parent, base = os.path.split(path.rstrip("/"))
    try:
        entries = os.listdir(parent or ".")
    except FileNotFoundError:
        return
    olds = [os.path.join(parent, e) for e in entries if e.startswith(f"{base}__old_")]
    if olds and not os.path.exists(path):
        newest = max(olds, key=os.path.getmtime)
        os.rename(newest, path)
        olds.remove(newest)
    stages = [os.path.join(parent, e) for e in entries if e.startswith(f"{base}__stage_")]
    for leftover in olds + stages:
        shutil.rmtree(leftover, ignore_errors=True)


def _swap(stage: str, path: str) -> None:
    """Put the table written at ``stage`` in place of ``path``: two
    renames, then the old copy is dropped. The two renames are the
    non-transactional step a Delta log would make atomic;
    ``recover_swap`` repairs a crash between them."""
    if not os.path.exists(path):
        os.rename(stage, path)
        return
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] = (),
    order_by: Sequence = (),
    expectations=None,
    schema: StructType | None = None,
) -> StructType:
    """Upsert (S13): matched target rows are replaced by source rows,
    unmatched source rows are inserted — the semantics of
    ``DeltaTable.merge(...).whenMatchedUpdateAll().whenNotMatchedInsertAll()``
    (``notebooks/03_silver_smartpool.ipynb:253-259``). Returns the schema
    of the table written.

    Parquet realization: ``target ANTI-JOIN source ON keys`` ∪ ``source``,
    staged to a sibling directory then swapped in (``_swap``). A crash
    mid-swap is repaired by the next call (``recover_swap``).

    * ``order_by`` (best-first, as ``latest_by_key`` takes it) makes the
      merge order-aware — ``whenMatchedUpdate(condition=source newer)``:
      ``source`` may hold several rows per key, and each key keeps
      whichever of its target row and source rows sorts first, so a
      late, older source row never overwrites a newer target row, and
      re-merging rows already merged changes nothing.
    * ``expectations`` (a ``Suite``): its foldable checks observe the
      merged table during the staged write (no extra pass), its own-job
      checks run on the source's upsert rows (its best row per key under
      ``order_by``; a ``Unique`` that ``keys`` already imply there runs
      no job). A violation deletes the stage and raises
      ``ExpectationError``; the target is untouched.
    * ``schema`` is the target's schema when the caller knows it (a table
      it wrote), so reading the target runs no schema-inference job.

    Scale: the anti-join shuffles on ``keys`` (or broadcasts a small
    source); ``order_by`` adds one shuffle on ``keys`` of the source and
    its matched target rows only. Cost is proportional to target ∪
    source like any copy-on-write MERGE without file-level pruning.
    """
    target_path = target_path.rstrip("/")
    keys = list(keys)
    recover_swap(target_path)
    upsert = latest_by_key(source, keys, order_by) if order_by else source
    merged = upsert
    if _exists(spark, target_path):
        reader = spark.read if schema is None else spark.read.schema(schema)
        target = reader.parquet(target_path)
        src_keys = source.select(*keys)
        if order_by:
            matched = target.join(src_keys, on=keys, how="left_semi")
            merged = latest_by_key(source.unionByName(matched), keys, order_by)
        merged = target.join(src_keys, on=keys, how="left_anti").unionByName(
            merged, allowMissingColumns=False
        )
    obs = None
    if expectations is not None:
        merged, obs = expectations.observe(merged)
    stage = f"{target_path}__stage_{uuid.uuid4().hex[:8]}"
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    if expectations is not None:
        try:
            expectations.validate_observation(
                obs, upsert, unique_keys=keys if order_by else ()
            )
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
    _swap(stage, target_path)
    return merged.schema


def merge_upsert_cdf(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    cdf_path: str,
    commit_version: int,
    partition_by: Sequence[str] = (),
) -> None:
    """MERGE with a CHANGE DATA FEED (the Delta CDF /
    ``readChangeFeed`` analog): same upsert semantics as
    ``merge_upsert``, additionally appending every produced change to
    ``cdf_path`` tagged with ``_change_type`` ∈ {insert,
    update_preimage, update_postimage} and ``_commit_version`` — the
    row-level diff downstream incremental consumers (sync jobs, audit,
    streaming materialized views) read instead of re-diffing snapshots.

    The change rows fall out of the SAME anti/semi joins the merge
    already pays for: unmatched source = insert, matched source =
    update_postimage, matched target = update_preimage — no extra
    passes over the target beyond the merge's own. The feed is
    APPEND-ONLY and partitioned by ``_commit_version``, so consumers
    resume with a version-range scan (partition-pruned), exactly the
    Delta CDF read contract.

    Scale: identical to ``merge_upsert`` plus one semi-join (same key
    shuffle, co-planned) and an O(changes) write — never O(table).

    Crash/retry contract: the feed partition for ``commit_version`` is
    written with DYNAMIC partition overwrite (only the
    ``_commit_version=<N>`` directory is replaced), so a retried call
    with the same version REPLACES its own change rows instead of
    duplicating them, and a crash between the feed write and the merge
    is healed by the retry. What this parquet analog cannot give is
    Delta's feed+table atomicity: a crash after the feed write with NO
    retry leaves a feed version whose merge never landed — consumers
    that must exclude in-flight versions should read only up to the
    target's last applied version.
    """
    src_keys = source.select(*keys).distinct()
    recover_swap(target_path)
    if _exists(spark, target_path):
        target = spark.read.parquet(target_path)
        matched_keys = target.select(*keys).distinct().join(
            src_keys, on=list(keys), how="inner"
        )
        pre = target.join(matched_keys, on=list(keys), how="left_semi")
        post = source.join(matched_keys, on=list(keys), how="left_semi")
        ins = source.join(matched_keys, on=list(keys), how="left_anti")
    else:
        target = None
        pre = post = None
        ins = source
    tag = lambda df, t: df.withColumn("_change_type", F.lit(t))  # noqa: E731
    cdf = tag(ins, "insert")
    if pre is not None:
        cdf = cdf.unionByName(tag(pre, "update_preimage")).unionByName(
            tag(post, "update_postimage")
        )
    cdf = cdf.withColumn("_commit_version", F.lit(commit_version))
    (
        cdf.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_commit_version")
        .parquet(cdf_path)
    )
    merge_upsert(spark, target_path, source, keys, partition_by)


def read_change_feed(
    spark: SparkSession,
    cdf_path: str,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """Version-range scan of the change feed (the
    ``spark.read.option("readChangeFeed", "true").option(
    "startingVersion", N)`` analog). The ``_commit_version`` partition
    column prunes to the requested range at planning time."""
    df = spark.read.parquet(cdf_path).filter(
        F.col("_commit_version") >= starting_version
    )
    if ending_version is not None:
        df = df.filter(F.col("_commit_version") <= ending_version)
    return df


def append_with_schema_merge(
    spark: SparkSession, path: str, df: DataFrame
) -> DataFrame:
    """Schema-evolving append (S12): new columns may appear in ``df``;
    readers see the union schema. Mirrors ``mergeSchema=true`` on the
    Bronze append (``notebooks/05_ingest_electricity_csv.ipynb:241-245``).
    Parquet supports heterogeneous file schemas natively; returns a reader
    over the merged view (``option("mergeSchema", "true")``)."""
    df.write.mode("append").parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def ensure_table(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    partition_by: Sequence[str] = (),
) -> bool:
    """Create-empty-table bootstrap (S14): pre-create a table with declared
    schema + partition layout so concurrent writers/streams find it —
    ``ensure_delta`` (``notebooks/07_kafka_smartpool_sensors.ipynb:242-250``),
    the ``limit(0)`` write (``notebooks/03_silver_smartpool.ipynb:244-250``).
    Returns True when the table was created, False when it already existed.

    Partitioned bootstrap on parquet: a zero-row PARTITIONED write emits
    no data files at all (schema would be uninferrable), so the
    zero-row schema-bearing file is written INSIDE a sentinel partition
    directory (``col=<epoch/empty-marker>``) — the parquet analog of
    Delta recording the partition layout in its log up-front. Partition
    discovery then sees a consistent directory structure from the very
    first real append (a bare root-level file would CONFLICT with later
    ``partitionBy`` appends), the sentinel contributes zero rows forever,
    and readers get the declared partition columns immediately.
    """
    if _exists(spark, path):
        return False
    if not partition_by:
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
        return True
    empty = spark.createDataFrame([], schema)
    # Sentinel values chosen so partition-type inference agrees with the
    # declared column type. Types OUTSIDE this map (float, double,
    # boolean, decimal, binary, ...) cannot round-trip through parquet
    # partition-directory inference at all — Spark only infers
    # integer/long/date/timestamp/string from directory names, so a real
    # appended value would degrade the column to string regardless of
    # the bootstrap. Fail loudly instead of planting a '__bootstrap__'
    # string sentinel that silently changes the discovered type later.
    sentinel = {
        "date": "1970-01-01",
        "timestamp": "1970-01-01 00:00:00",
        "integer": "0",
        "long": "0",
        "short": "0",
        "byte": "0",
        "string": "__bootstrap__",
    }
    leaf = path
    for c in partition_by:
        t = empty.schema[c].dataType.typeName()
        if t not in sentinel:
            raise ValueError(
                f"ensure_table: partition column {c!r} has type {t!r}, which "
                "parquet partition-directory inference cannot represent; use "
                "an integer/long/short/byte/date/timestamp/string partition "
                "column (Delta records partition types in its log; vanilla "
                "parquet re-infers them from directory names)"
            )
        leaf = os.path.join(leaf, f"{c}={sentinel[t]}")
    empty.drop(*partition_by).write.mode("overwrite").parquet(leaf)
    return True


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: Sequence[str] = (),
) -> dict:
    """Small-files compaction: rewrite a table into ~``target_file_bytes``
    files. Streaming file sinks emit one file per micro-batch per
    partition — after a day of 10 s triggers that is thousands of tiny
    files, and scan cost becomes file-open dominated (the problem Delta's
    OPTIMIZE solves; this is the parquet analog, same staged-swap
    non-transactionality caveat as ``merge_upsert``).

    Returns {'files_before', 'files_after'}. Sizing uses the CURRENT
    on-disk bytes, so compaction is idempotent.
    """
    import math

    before = table_detail(spark, path)
    n_out = max(1, math.ceil(before["sizeInBytes"] / target_file_bytes))
    df = spark.read.parquet(path)
    stage = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    writer = df.repartition(n_out).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    _swap(stage, path.rstrip("/"))
    after = table_detail(spark, path)
    return {"files_before": before["numFiles"], "files_after": after["numFiles"]}


def write_clustered(
    df,
    path: str,
    cluster_by: Sequence[str],
    n_files: int = 0,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-clustered on ``cluster_by`` for data skipping.

    ``repartitionByRange`` makes each output file own a disjoint slice of
    the cluster key's value space, and the within-partition sort makes
    row-group min/max stats tight. A later scan with a predicate on that
    key then prunes to the one or two files whose [min, max] overlaps —
    at 100 TB, the difference between reading a time slice and reading
    the table. This is the vanilla-parquet analog of Delta's
    OPTIMIZE ZORDER (single-key linear clustering; for genuinely
    multi-dimensional skipping, interleave key bits into a Z-value
    column and cluster on that).

    ``n_files=0`` keeps the range partitioner's default (= current
    shuffle parallelism); set it to control output file count/size.
    Footer-stat tightness is regression-tested against pyarrow metadata
    in tests/test_state_io.py.
    """
    cols = [F.col(c) for c in cluster_by]
    part = df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
    (
        part.sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_write(
    df,
    path: str,
    cols: Sequence[str],
    bits: int = 12,
    n_files: int = 0,
    mode: str = "overwrite",
    drop_cols: Sequence[str] = (),
) -> None:
    """Write parquet Z-ORDER clustered on ``cols`` for MULTI-dimensional
    data skipping — the vanilla-parquet analog of Delta's
    ``OPTIMIZE ZORDER BY`` (and the multi-key path ``write_clustered``'s
    docstring prescribes for single-key linear clustering).

    Each key is scaled to a ``bits``-bit integer against its driver-side
    min/max (one agg — constants like a watermark), the bit strings are
    interleaved into one Z-value, and the frame is range-partitioned +
    sorted on it. Because the Z-curve preserves locality in EVERY
    interleaved dimension, each output file covers a small sub-rectangle
    of the key space, so parquet min/max footer stats are tight on ALL
    keys at once — a predicate on any single key prunes most files,
    which linear clustering only delivers for its leading key.
    Regression-measured in tests/test_bucketing.py: per-file span on the
    SECOND key drops from ~100% of the value space (ts-linear layout) to
    a fraction under Z-order, and both keys prune at scan time.

    Non-finite/null keys clamp to bucket 0 (they sort first, same as
    NULLS FIRST). ``bits`` trades curve resolution against expression
    size (k x bits shift-or terms, inside codegen); 12 bits x 2-3 keys
    is plenty for file-level skipping — resolution only needs to exceed
    the file count, not the row count.

    ``drop_cols`` removes helper columns (e.g. an epoch cast of a
    timestamp key built just for the curve) from the final projection so
    they never reach the published parquet.
    """
    from pyspark.sql import functions as F

    k = len(cols)
    if k < 2:
        raise ValueError("zorder_write needs >= 2 cluster keys; use "
                         "write_clustered for single-key linear clustering")
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
        ]
    stats = df.agg(*aggs).first()
    top = (1 << bits) - 1
    scaled_terms = []
    for idx, c in enumerate(cols):
        mn, mx = stats[f"__mn_{c}"], stats[f"__mx_{c}"]
        span = (mx - mn) if (mx is not None and mn is not None and mx > mn) else 1.0
        mn = mn if mn is not None else 0.0
        scaled = (
            f"coalesce(cast(least(greatest(floor((cast({c} as double) - {mn!r}D) "
            f"/ {span!r}D * {top}), 0D), {top}D) as bigint), 0L)"
        )
        # bit j of key idx lands at interleaved position j*k + idx
        scaled_terms += [
            f"(shiftleft(shiftright({scaled}, {j}) & 1, {j * k + idx}))"
            for j in range(bits)
        ]
    z = F.expr(" + ".join(scaled_terms))
    zcol = "__z"
    while zcol in df.columns:
        zcol += "_"
    zdf = df.withColumn(zcol, z)
    part = (
        zdf.repartitionByRange(n_files, F.col(zcol))
        if n_files
        else zdf.repartitionByRange(F.col(zcol))
    )
    (
        part.sortWithinPartitions(zcol)
        .drop(zcol, *drop_cols)
        .write.mode(mode)
        .parquet(path)
    )


def table_detail(spark: SparkSession, path: str) -> dict:
    """Table metadata scan (S18): format, file count, bytes, partition
    columns — the parquet analog of ``DESCRIBE DETAIL delta.`path```
    (``notebooks/03_silver_smartpool.ipynb:698,711-713``), used by the
    partitioning assertion in the expectations layer.

    Local-filesystem implementation (tests); a cluster deployment swaps in
    the Delta API or the Hadoop FileSystem listing.
    """
    n_files = 0
    n_bytes = 0
    part_cols: list[str] = []
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        for comp in rel.split(os.sep):
            if "=" in comp:
                col = comp.split("=", 1)[0]
                if col and not col.startswith("_") and col not in part_cols:
                    part_cols.append(col)
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return {
        "format": "parquet",
        "location": path,
        "numFiles": n_files,
        "sizeInBytes": n_bytes,
        "partitionColumns": part_cols,
    }
