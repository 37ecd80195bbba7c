"""End-to-end medallion pipeline test: bronze incremental ingest → silver
latest-per-key snapshot/merge with expectations → gold aggregates, asserted
against a DuckDB oracle over the original source rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smartpool_bigdata_spark.catalog import Catalog, load_table
from smartpool_bigdata_spark.expectations import (
    ExpectationError,
    InSet,
    NotNull,
    Suite,
    Unique,
)
from smartpool_bigdata_spark.pipelines import MedallionPipeline
from tests.conftest import SF_DIR, assert_matches_oracle

def AUDIT_TS():
    return F.lit("2024-02-01 00:00:00").cast("timestamp")


def test_medallion_end_to_end(spark, duck, tmp_path):
    cat = Catalog(root=str(tmp_path))
    pipe = MedallionPipeline(spark, cat)
    events = load_table(spark, SF_DIR, "events")
    customer = load_table(spark, SF_DIR, "customer")

    # bronze: two incremental batches land everything exactly once
    cutoff = events.agg(F.percentile_approx("ts", 0.5)).collect()[0][0]
    assert pipe.bronze_ingest(
        "events", events.filter(F.col("ts") <= F.lit(cutoff)), "ts",
        pk_col="event_id", audit_source="testdata", audit_ts=AUDIT_TS(),
    )
    assert pipe.bronze_ingest(
        "events", events, "ts", pk_col="event_id",
        audit_source="testdata", audit_ts=AUDIT_TS(),
    )
    assert not pipe.bronze_ingest(  # third run: empty delta short-circuit
        "events", events, "ts", pk_col="event_id", audit_ts=AUDIT_TS(),
    )
    bronze = cat.read(spark, "bronze.events")
    assert bronze.count() == events.count()
    assert "_ingest_ts" in bronze.columns and "_source" in bronze.columns

    # dim snapshot straight to bronze (reference job 02's full-table dims)
    cat.define("bronze", "customer")
    cat.write(customer, "bronze.customer", mode="overwrite")

    # silver: latest-per-key + expectations gate
    silver_events = pipe.silver_snapshot(
        "events",
        keys=["event_id"],
        order_by=[F.col("ts").desc()],
        expectations=Suite(
            [
                NotNull(["event_id", "ts"]),
                Unique(["event_id"]),
                InSet("event_type", ["click", "view", "purchase", "signup", "error"]),
            ]
        ),
    )
    assert silver_events.count() == events.count()
    assert "_ingest_ts" not in silver_events.columns

    silver_cust = pipe.silver_merge(
        "customer", keys=["c_custkey"], order_by=[F.col("c_custkey").desc()],
    )
    assert silver_cust.count() == customer.count()

    # gold: enriched daily metrics, checked against the DuckDB oracle over
    # the ORIGINAL source rows — the whole pipeline must be lossless
    def build(frames):
        ev, cust = frames["silver.events"], frames["silver.customer"]
        joined = ev.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            ev["user_id"] == F.col("c_custkey"),
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
    assert_matches_oracle(
        gold,
        duck,
        """
        SELECT CAST(e.ts AS DATE) AS event_date,
               coalesce(c.c_mktsegment, 'unknown') AS segment,
               count(*) AS n_events,
               round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
        """,
    )

    # layout: all three layers under one root
    for layer in ("bronze", "silver", "gold"):
        assert os.path.isdir(os.path.join(str(tmp_path), layer))


def test_silver_merge_upserts_changed_rows(spark, tmp_path):
    cat = Catalog(root=str(tmp_path))
    pipe = MedallionPipeline(spark, cat)
    v1 = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"), (2, "2024-01-01 00:00:00", "b")],
        ["id", "updated_at", "val"],
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    pipe.bronze_ingest("t", v1, "updated_at", pk_col="id", audit_ts=AUDIT_TS())
    pipe.silver_merge("t", keys=["id"], order_by=[F.col("updated_at").desc(), F.col("id").desc()])

    v2 = spark.createDataFrame(
        [(2, "2024-01-02 00:00:00", "b2"), (3, "2024-01-02 00:00:00", "c")],
        ["id", "updated_at", "val"],
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    pipe.bronze_ingest("t", v2, "updated_at", pk_col="id", audit_ts=AUDIT_TS())
    out = pipe.silver_merge("t", keys=["id"], order_by=[F.col("updated_at").desc(), F.col("id").desc()])
    got = {r["id"]: r["val"] for r in out.collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


def ORDER():
    return [F.col("updated_at").desc(), F.col("id").desc()]


def _rows(spark, rows):
    return spark.createDataFrame(rows, "id long, updated_at string, val string").withColumn(
        "updated_at", F.col("updated_at").cast("timestamp")
    )


def _snapshot(df):
    return sorted(tuple(r) for r in df.select("id", "updated_at", "val").collect())


# Three keyset increments: the second updates earlier ids and ties the
# previous maximum updated_at on a new, higher id (the keyset takes it).
INCREMENTS = [
    [(1, "2024-01-01 00:00:00", "a"), (2, "2024-01-01 00:00:00", "b"),
     (3, "2024-01-01 01:00:00", "c")],
    [(1, "2024-01-01 02:00:00", "a2"), (2, "2024-01-02 00:00:00", "b2"),
     (4, "2024-01-01 01:00:00", "d"), (5, "2024-01-02 00:00:00", "e")],
    [(3, "2024-01-03 00:00:00", "c3"), (6, "2024-01-03 00:00:00", "f")],
]


def _merge(pipe, suite=None):
    return pipe.silver_merge("t", keys=["id"], order_by=ORDER(), expectations=suite)


def test_incremental_silver_merge_equals_snapshot(spark, tmp_path):
    """N incremental silver_merge calls equal one silver_snapshot over
    the same Bronze — including an OLDER row for an existing key that
    lands in Bronze outside the keyset path (a late append): the merge
    must keep the newer Silver row, as a full recompute does."""
    cat = Catalog(root=str(tmp_path))
    pipe = MedallionPipeline(spark, cat)
    suite = Suite([NotNull(["id", "updated_at"]), Unique(["id"])])
    for inc in INCREMENTS:
        assert pipe.bronze_ingest("t", _rows(spark, inc), "updated_at",
                                  pk_col="id", audit_ts=AUDIT_TS())
        _merge(pipe, suite)
    late = _rows(spark, [(2, "2023-12-31 00:00:00", "stale"), (7, "2023-12-31 00:00:00", "g")])
    late = late.withColumn("_ingest_ts", AUDIT_TS()).withColumn(
        "_ingest_date", F.col("_ingest_ts").cast("date"))
    cat.write(late, "bronze.t", mode="append")
    merged = _merge(pipe, suite)
    assert _merge(pipe, suite).count() == merged.count()  # nothing new: no-op

    full = pipe.silver_snapshot("t_full", keys=["id"], order_by=ORDER(), bronze_name="t")
    assert _snapshot(merged) == _snapshot(full)
    got = {r["id"]: r["val"] for r in merged.collect()}
    assert got == {1: "a2", 2: "b2", 3: "c3", 4: "d", 5: "e", 6: "f", 7: "g"}


def test_increment_retries_after_crashes(spark, tmp_path, monkeypatch):
    """Crash-retry at both seams of an increment. (1) After the Bronze
    append, before the watermark advance: the retry lands the rows again
    (at-least-once) and advances the watermark once. (2) After the Silver
    swap, before the merge-state write: the retry re-merges the same
    Bronze files. Silver must end identical to a full recompute — no row
    lost, none duplicated — and the watermark must name the last row."""
    cat = Catalog(root=str(tmp_path))
    pipe = MedallionPipeline(spark, cat)

    def ingest(inc):
        return pipe.bronze_ingest("t", _rows(spark, inc), "updated_at",
                                  pk_col="id", audit_ts=AUDIT_TS())

    def crash(*_args):
        raise OSError("crash")

    ingest(INCREMENTS[0])
    _merge(pipe)
    monkeypatch.setattr(pipe.store, "write_keyset", crash)
    with pytest.raises(OSError):
        ingest(INCREMENTS[1])
    monkeypatch.undo()
    assert pipe.store.read_keyset("t") == ("2024-01-01 01:00:00.000000", 3)
    assert ingest(INCREMENTS[1])  # the retry lands the increment again
    assert cat.read(spark, "bronze.t").count() == 3 + 4 + 4
    assert pipe.store.read_keyset("t") == ("2024-01-02 00:00:00.000000", 5)

    state_before = pipe.store.read_doc("silver.t")
    monkeypatch.setattr(pipe.store, "write_doc", crash)
    with pytest.raises(OSError):
        _merge(pipe)
    monkeypatch.undo()
    assert pipe.store.read_doc("silver.t") == state_before
    crashed = _snapshot(cat.read(spark, "silver.t"))

    retried = _snapshot(_merge(pipe))
    assert retried == crashed
    assert [r[0] for r in retried] == [1, 2, 3, 4, 5]
    full = pipe.silver_snapshot("t_full", keys=["id"], order_by=ORDER(), bronze_name="t")
    assert retried == _snapshot(full)


def test_silver_merge_violation_leaves_silver_and_state(spark, tmp_path):
    """An expectation violation in a merge deletes the stage and leaves
    Silver and the merge state untouched."""
    cat = Catalog(root=str(tmp_path))
    pipe = MedallionPipeline(spark, cat)
    suite = Suite([NotNull(["val"])])
    pipe.bronze_ingest("t", _rows(spark, INCREMENTS[0]), "updated_at",
                       pk_col="id", audit_ts=AUDIT_TS())
    before = _snapshot(_merge(pipe, suite))
    state = pipe.store.read_doc("silver.t")
    pipe.bronze_ingest("t", _rows(spark, [(8, "2024-02-01 00:00:00", None)]), "updated_at",
                       pk_col="id", audit_ts=AUDIT_TS())
    with pytest.raises(ExpectationError, match="not_null"):
        _merge(pipe, suite)
    assert _snapshot(cat.read(spark, "silver.t")) == before
    assert pipe.store.read_doc("silver.t") == state
    assert sorted(os.listdir(tmp_path / "silver")) == ["t"]  # no stage left


def test_medallion_metadata_runs_no_spark_job(spark, tmp_path):
    """Watermark I/O, reads of tables the engine wrote and table-existence
    probes are driver-side: none of them launches a Spark job. An append
    of another schema drops the catalog's schema memo (reads infer)."""
    from smartpool_bigdata_spark.io.sinks import _exists

    cat = Catalog(root=str(tmp_path))
    pipe = MedallionPipeline(spark, cat)
    pipe.bronze_ingest("t", _rows(spark, INCREMENTS[0]), "updated_at",
                       pk_col="id", audit_ts=AUDIT_TS())
    _merge(pipe)
    sc = spark.sparkContext
    sc.setJobGroup("metadata-probe", "driver-side metadata only")
    try:
        pipe.store.write_keyset("probe", "2024-01-01 00:00:00.000001", 1)
        assert pipe.store.read_keyset("probe") == ("2024-01-01 00:00:00.000001", 1)
        for name in ("bronze.t", "silver.t"):
            assert _exists(spark, cat.get(name).path)
            assert cat.read(spark, name).columns
        _merge(pipe)  # no new Bronze file: nothing to merge
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup("metadata-probe")) == []

    assert cat.get("bronze.t").schema is not None
    cat.write(spark.createDataFrame([(9,)], "id long"), "bronze.t", mode="append")
    assert cat.get("bronze.t").schema is None
