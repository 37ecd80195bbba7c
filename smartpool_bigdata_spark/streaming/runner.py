"""Streaming sinks and query lifecycle (S15/S16, T4/T5/T7/T8).

Sink builders return started ``StreamingQuery`` objects; lifecycle helpers
cover the reference's bounded-run-then-graceful-stop loop and lastProgress
observability (``spark-apps/07_kafka_smartpool_sensors.py:163-171``,
``notebooks/07_kafka_smartpool_sensors.ipynb:775-795``).
"""

from __future__ import annotations

import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def _with_trigger(writer, trigger: dict | None):
    # trigger={"processingTime": "10 seconds"} | {"availableNow": True} | None
    return writer.trigger(**trigger) if trigger else writer


def _start_foreach_batch(
    df: DataFrame,
    handle,
    checkpoint: str,
    trigger: dict | None,
    query_name: str | None,
) -> StreamingQuery:
    """Start ``df`` through ``foreachBatch(handle)``: empty micro-batches
    are skipped before ``handle(batch_df, batch_id)`` runs, and the
    checkpoint makes the query restartable (every handler here MERGEs by
    key, so a replayed batch is idempotent)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            handle(batch_df, batch_id)

    writer = df.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint
    )
    if query_name:
        writer = writer.queryName(query_name)
    return _with_trigger(writer, trigger).start()


def start_file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    trigger: dict | None = None,
    partition_by: Sequence[str] = (),
    query_name: str | None = None,
) -> StreamingQuery:
    """File/table streaming sink (S15's parquet analog of the Delta sink).

    Per-query ``checkpointLocation`` gives exactly-once file-sink semantics
    and restartability; ``partition_by`` mirrors the reference's
    ``partitionBy("ingest_date")`` layout so downstream readers prune.
    """
    writer = (
        df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if query_name:
        writer = writer.queryName(query_name)
    return _with_trigger(writer, trigger).start()


def start_memory_sink(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    trigger: dict | None = None,
) -> StreamingQuery:
    """In-memory table sink — the deterministic test sink; results are then
    a plain batch table via ``spark.table(name)``."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    return _with_trigger(writer, trigger).start()


def start_console(
    df: DataFrame,
    output_mode: str = "append",
    num_rows: int = 20,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Console debug sink (S16) —
    ``notebooks/07_kafka_smartpool_sensors.ipynb:820-835``."""
    writer = (
        df.writeStream.format("console")
        .outputMode(output_mode)
        .option("numRows", str(num_rows))
    )
    return _with_trigger(writer, trigger).start()


def start_foreach_batch_upsert(
    df: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint: str,
    dedupe_order: Sequence | None = None,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Streaming MERGE: each micro-batch is upserted into ``target_path``
    by key via ``foreachBatch`` + ``merge_upsert`` — the pattern for a
    continuously-maintained Silver table (Delta's streaming MERGE analog;
    the reference only ever appended from streams and merged in batch).

    ``dedupe_order`` (best-first columns) collapses multiple versions of a
    key WITHIN one micro-batch before the merge, so the upsert is
    deterministic regardless of batch boundaries. Exactly-once: foreachBatch
    may re-run a batch on recovery, but MERGE by key is idempotent.
    """
    from smartpool_bigdata_spark.io.sinks import merge_upsert
    from smartpool_bigdata_spark.ops.relational import latest_by_key

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        batch = (
            latest_by_key(batch_df, keys, dedupe_order)
            if dedupe_order is not None
            else batch_df
        )
        merge_upsert(batch_df.sparkSession, target_path, batch, keys)

    return _start_foreach_batch(df, handle, checkpoint, trigger, query_name)


def start_incremental_dedup(
    docs_stream: DataFrame,
    sig_table_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    assignment_path: str | None = None,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """The daily-ingest dedup loop as a STREAM: a file-stream of new
    documents drains through ``foreachBatch`` +
    ``ops.text.incremental_dedup_batch`` — each micro-batch is signed
    once, paired against the materialized signature corpus
    ((new x base) ∪ (new x new), never base x base), its pairs and
    signatures MERGEd in. This fuses the reference's incremental-ingest
    protocol with the LLM dedup family at the shape a 100 TB corpus
    actually runs: signatures computed once per document ever, each
    ingest's work proportional to the batch, checkpoint-restartable
    (keyed MERGEs + the batch-id anti-join make replays idempotent —
    see incremental_dedup_batch). With ``assignment_path`` set, the
    near-dup COMPONENT map is maintained per batch too, via the
    contracted-graph incremental CC's O(batch) change delta."""
    from smartpool_bigdata_spark.ops.text import incremental_dedup_batch

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        incremental_dedup_batch(
            batch_df,
            sig_table_path,
            pairs_path,
            id_col=id_col,
            text_col=text_col,
            shingle_k=shingle_k,
            threshold=threshold,
            assignment_path=assignment_path,
        )

    return _start_foreach_batch(docs_stream, handle, checkpoint, trigger, query_name)


def start_ivf_assignment(
    emb_stream: DataFrame,
    centroids: DataFrame,
    assignment_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """IVF index maintenance as a STREAM — the incremental-dedup loop
    pattern (``start_incremental_dedup``) applied to the ANN family: each
    micro-batch of new embeddings is assigned to its max-cosine coarse
    centroid (broadcast O(k·d), scan-only over the batch) and the
    ``(id, bucket)`` rows MERGE into the assignment table keyed by id —
    so the inverted-list layout stays current under continuous ingest
    without ever re-assigning the base corpus. Replayed batches re-derive
    the SAME assignments and the keyed MERGE replaces rather than
    duplicates, so checkpoint-recovery replays are idempotent
    (restart-tested in tests/test_streaming.py). ``centroids`` is the
    frozen coarse quantizer ``(centroid_id, cv)`` — pass a materialized
    frame so it isn't recomputed per batch; periodic re-training swaps in
    a new centroid set + full re-assign, exactly like batch IVF."""
    from smartpool_bigdata_spark.io.sinks import merge_upsert
    from smartpool_bigdata_spark.ops.vectors import assign_ivf_buckets

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        assigned = assign_ivf_buckets(
            batch_df, centroids, id_col=id_col, vec_col=vec_col
        ).select(id_col, "bucket")
        merge_upsert(
            batch_df.sparkSession, assignment_path, assigned, [id_col]
        )

    return _start_foreach_batch(emb_stream, handle, checkpoint, trigger, query_name)


def start_cms_cells(
    stream: DataFrame,
    delta_log_path: str,
    checkpoint: str,
    d: int,
    w: int,
    key_col: str,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Streaming COUNT-MIN SKETCH maintenance: each micro-batch reduces
    to its own d×w cell-count grid, MERGEd into a delta log keyed by
    (__batch_id, r, b) — the ``start_cdf_view_maintenance`` exactly-once
    recipe: a replayed batch recomputes IDENTICAL delta rows and the
    keyed MERGE replaces instead of double-adding (addition itself is
    not idempotent, which is why the log is batch-keyed rather than a
    single running grid). The served sketch is the per-cell SUM over
    the log (fold with ``read_cms_cells``) — correct because CMS grids
    merge by cell-wise addition; per-batch cost is O(batch·d) + a
    ≤ d·w-row MERGE regardless of history size."""
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.io.sinks import merge_upsert
    from smartpool_bigdata_spark.ops.text import spark_hash64

    bexpr = (
        spark_hash64(
            f"concat(cast(r as string), '|', cast({key_col} as string))"
        )
        + f" % {w}"
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cells = (
            batch_df.select(
                F.explode(F.expr(f"sequence(0, {d - 1})")).alias("r"),
                F.col(key_col),
            )
            .select("r", F.expr(bexpr).alias("b"))
            .groupBy("r", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .withColumn("__batch_id", F.lit(batch_id).cast("bigint"))
        )
        merge_upsert(
            batch_df.sparkSession, delta_log_path, cells,
            ["__batch_id", "r", "b"],
        )

    return _start_foreach_batch(stream, handle, checkpoint, trigger, query_name)


def read_cms_cells(spark: SparkSession, delta_log_path: str) -> DataFrame:
    """The served CMS grid: per-cell fold of the batch-keyed delta log."""
    from pyspark.sql import functions as F

    log = spark.read.parquet(delta_log_path)
    return log.groupBy("r", "b").agg(F.sum("c").cast("bigint").alias("c"))


def start_cdf_view_maintenance(
    feed_stream: DataFrame,
    delta_log_path: str,
    group_cols: Sequence[str],
    value_col: str,
    checkpoint: str,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """INCREMENTAL MATERIALIZED-VIEW maintenance from a change data
    feed (the downstream half of ``io.sinks.merge_upsert_cdf``): each
    micro-batch of CDF rows reduces to a per-group ADDITIVE delta —
    +insert, +update_postimage, -update_preimage — which is exact for
    any commutative aggregate (sum/count here), so the view never
    re-reads the base table; maintenance cost is O(changes), the whole
    point of a change feed.

    Exactly-once under checkpoint replay WITHOUT transactional state:
    deltas are MERGEd into a delta-log table keyed by
    (__batch_id, group) — a replayed batch recomputes the identical
    delta rows and the keyed MERGE replaces instead of double-adding.
    The served view is the per-group SUM over the delta log
    (``read_cdf_view``), compactable at any time by folding rows into a
    single base row per group. Delta sums accumulate in DECIMAL(38,10)
    so insert/pre/post terms cancel exactly and the maintained view is
    bit-identical to a from-scratch aggregate, not merely close.
    """
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.io.sinks import merge_upsert

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        val = F.col(value_col).cast("decimal(38,10)")
        sgn = F.when(F.col("_change_type") == "update_preimage", -1).otherwise(1)
        delta = batch_df.groupBy(*group_cols).agg(
            F.sum(sgn * val).alias("delta_sum"),
            F.sum(sgn).cast("bigint").alias("delta_rows"),
        ).withColumn("__batch_id", F.lit(batch_id).cast("bigint"))
        merge_upsert(
            batch_df.sparkSession,
            delta_log_path,
            delta,
            ["__batch_id", *group_cols],
        )

    return _start_foreach_batch(feed_stream, handle, checkpoint, trigger, query_name)


def read_cdf_view(
    spark: SparkSession, delta_log_path: str, group_cols: Sequence[str]
) -> DataFrame:
    """The served materialized view: per-group fold of the delta log.
    Groups whose rows net to zero (all their rows deleted/moved) drop
    out via the delta_rows > 0 filter."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(delta_log_path)
        .groupBy(*group_cols)
        .agg(
            F.sum("delta_sum").alias("view_sum"),
            F.sum("delta_rows").cast("bigint").alias("view_rows"),
        )
        .filter(F.col("view_rows") > 0)
    )


def start_pq_encode(
    emb_stream: DataFrame,
    codebook: DataFrame,
    codes_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
    subspaces: int = 4,
    subdim: int = 16,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """PQ code maintenance as a STREAM — the fine-quantizer counterpart
    of ``start_ivf_assignment``: each micro-batch of new embeddings is
    PQ-encoded against the frozen codebook (broadcast, argmax hash agg)
    and its ``(id, sub, code)`` rows MERGE into the codes table keyed by
    (id, sub). Per-batch cost O(batch · subspaces · codes); the base
    corpus is never re-encoded; replays re-derive identical codes so the
    keyed MERGE is idempotent. With both the assignment stream and this
    one, the complete IVF-PQ serving state stays current under
    continuous ingest without a full rebuild; codebook retraining swaps
    in a new codebook + full re-encode, exactly like batch PQ."""
    from smartpool_bigdata_spark.io.sinks import merge_upsert
    from smartpool_bigdata_spark.ops.vectors import pq_encode

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        codes = pq_encode(
            batch_df, codebook, id_col=id_col, vec_col=vec_col,
            subspaces=subspaces, subdim=subdim,
        )
        merge_upsert(
            batch_df.sparkSession, codes_path, codes, [id_col, "sub"]
        )

    return _start_foreach_batch(emb_stream, handle, checkpoint, trigger, query_name)


def run_available_now(
    df: DataFrame,
    sink: str,
    checkpoint: str | None = None,
    fmt: str = "parquet",
    output_mode: str = "append",
    timeout_sec: float = 120.0,
    partition_by: Sequence[str] = (),
) -> StreamingQuery:
    """Run a stream to exhaustion over currently-available input
    (``Trigger.AvailableNow``) and block until it finishes — the
    deterministic batch-replay harness for every streaming test. ``sink``
    is a memory-table name when ``fmt == 'memory'``, else an output path
    (``checkpoint`` required).
    """
    trigger = {"availableNow": True}
    if fmt == "memory":
        q = start_memory_sink(df, sink, output_mode, trigger)
    else:
        if checkpoint is None:
            raise ValueError("file sinks need a checkpoint location")
        q = start_file_sink(
            df, sink, checkpoint, fmt, output_mode, trigger, partition_by
        )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_sec}s")
    return q


def run_for(queries: Sequence[StreamingQuery], seconds: float, poll: float = 0.5) -> None:
    """Bounded run + graceful stop for a multi-query topology (T5/T7).

    Reference: run-N-seconds-then-stop loop
    (``spark-apps/07_kafka_smartpool_sensors.py:163-171``).
    """
    deadline = time.monotonic() + seconds
    try:
        while time.monotonic() < deadline and any(q.isActive for q in queries):
            time.sleep(poll)
    finally:
        stop_all(queries)


def stop_all(queries: Sequence[StreamingQuery]) -> None:
    for q in queries:
        if q.isActive:
            q.stop()
    for q in queries:
        try:
            q.awaitTermination(30)
        except Exception:
            pass


def progress_summary(query: StreamingQuery) -> dict:
    """Observability snapshot (T8): batchId, rows, rates, watermark —
    the fields the reference eyeballs via ``lastProgress``."""
    p = query.lastProgress
    if p is None:
        return {"queryName": query.name, "batchId": None}
    return {
        "queryName": p.get("name") or query.name,
        "batchId": p.get("batchId"),
        "numInputRows": p.get("numInputRows"),
        "inputRowsPerSecond": p.get("inputRowsPerSecond"),
        "processedRowsPerSecond": p.get("processedRowsPerSecond"),
        "watermark": (p.get("eventTime") or {}).get("watermark"),
        "stateRows": sum(
            s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])
        ),
    }


def start_foreach_batch_quarantine(
    df: DataFrame,
    clean_path: str,
    quarantine_path: str,
    rules,
    keys: Sequence[str],
    checkpoint: str,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Streaming data-quality routing: each micro-batch is split by
    ``expectations.quarantine_split`` (ordered rules, first match wins)
    and each half is MERGEd by key into its table — valid rows to
    ``clean_path``, flagged rows (with ``dq_reason``) to
    ``quarantine_path``. Keyed MERGEs make batch replays after
    checkpoint recovery idempotent, same exactly-once posture as
    ``start_foreach_batch_upsert``. This is the in-flight form of the
    reference's batch expectations gate: bad rows are preserved for
    triage instead of poisoning the clean table or killing the
    stream."""
    from smartpool_bigdata_spark.expectations import quarantine_split
    from smartpool_bigdata_spark.io.sinks import merge_upsert

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        valid, invalid = quarantine_split(batch_df, rules)
        merge_upsert(spark, clean_path, valid, keys)
        merge_upsert(spark, quarantine_path, invalid, keys)

    return _start_foreach_batch(df, handle, checkpoint, trigger, query_name)
