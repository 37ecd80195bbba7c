"""Bronze→Silver→Gold pipeline composition.

The reference's product is three medallion flows stitched from copy-pasted
notebook jobs (``dags/dag_10_smartpool_structured_batch.py`` chains jobs
02→03→04; §3.1-3.3). Here the same topology is a small engine class over
the named ``Catalog``: incremental Bronze appends with audit columns,
latest-per-key Silver snapshots (or MERGE upserts) gated by declarative
expectations, and Gold builds as plain DataFrame functions.

Scale posture per layer:

* Bronze — append-only, cost ∝ the watermark delta, never the table: the
  filtered source is checkpointed once and one aggregate over it gives
  both emptiness and the next keyset; the watermark is a driver-side JSON
  doc.
* Silver (merge) — dedupes only the Bronze files it has not merged yet
  (listed on the driver, tracked in a JSON state doc). The MERGE itself
  still rewrites the whole Silver table (copy-on-write, no file
  pruning), so its cost grows with Silver; the foldable expectations
  ride that write, ``Unique``-style checks run on the delta only.
  Silver (snapshot) re-derives the table from all of Bronze.
* Gold — each build is a normal Catalyst plan over whole Silver;
  dims stay broadcast-side.

Metadata stays on the driver: the catalog reads every table the engine
wrote with the schema it wrote (no schema-inference job), and table
existence is a filesystem check.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from smartpool_bigdata_spark.catalog import Catalog, data_files
from smartpool_bigdata_spark.expectations import Suite
from smartpool_bigdata_spark.ops.relational import latest_by_key, with_audit_columns
from smartpool_bigdata_spark.io.sinks import merge_upsert, recover_swap
from smartpool_bigdata_spark.state import WatermarkStore, incremental_ingest


class MedallionPipeline:
    """One medallion flow rooted at ``catalog.root``.

    Layer naming follows the reference's BASE/{bronze,silver,gold}/_state
    path scheme (``spark-apps/smartpool_config.py:13-17``).
    """

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        self.store = WatermarkStore(spark, catalog.root)

    # -- bronze --------------------------------------------------------------

    def bronze_ingest(
        self,
        name: str,
        source_df: DataFrame,
        ts_col: str,
        pk_col: str | None = None,
        audit_source: str | None = None,
        audit_ts=None,
    ) -> bool:
        """Incremental append into ``bronze.<name>`` with audit columns —
        jobs 02/05's shape (``spark-apps/02_ingest_smartpool.py:34-76``).
        Returns False when the watermark delta was empty (short-circuit).
        """
        ds = self.catalog.datasets.get(f"bronze.{name}") or self.catalog.define(
            "bronze", name
        )

        def sink(delta: DataFrame) -> None:
            audited = with_audit_columns(delta, source=audit_source, ingest_ts=audit_ts)
            self.catalog.write(audited, ds.name, mode="append")

        return incremental_ingest(
            source_df, self.store, name, ts_col, sink, pk_col=pk_col
        )

    # -- silver --------------------------------------------------------------

    def silver_snapshot(
        self,
        name: str,
        keys: Sequence[str],
        order_by: Sequence,
        bronze_name: str | None = None,
        expectations: Suite | None = None,
        partition_by: Sequence[str] = (),
        drop_audit: bool = True,
    ) -> DataFrame:
        """Silver = latest-per-key over Bronze, validated, overwritten —
        job 03's shape (``spark-apps/03_silver_smartpool.py:14-43``).
        """
        bn = bronze_name or name
        if f"bronze.{bn}" not in self.catalog.datasets:
            self.catalog.define("bronze", bn)
        bronze = self.catalog.read(self.spark, f"bronze.{bn}")
        silver = latest_by_key(bronze, keys, order_by)
        if drop_audit:
            silver = silver.drop("_ingest_ts", "_ingest_date", "_source")
        if expectations is not None:
            expectations.validate(silver)
        ds = self.catalog.datasets.get(f"silver.{name}") or self.catalog.define(
            "silver", name, partition_by=tuple(partition_by)
        )
        self.catalog.write(silver, ds.name, mode="overwrite")
        return self.catalog.read(self.spark, ds.name)

    def silver_merge(
        self,
        name: str,
        keys: Sequence[str],
        order_by: Sequence,
        bronze_name: str | None = None,
        expectations: Suite | None = None,
        partition_by: Sequence[str] = (),
        drop_audit: bool = True,
    ) -> DataFrame:
        """Silver via MERGE upsert instead of overwrite — the notebook
        variant (``notebooks/03_silver_smartpool.ipynb:253-259``): cheaper
        than a snapshot when the delta is small vs the table.

        Only the Bronze files not merged yet are deduped; the list of
        merged files lives in the ``silver.<name>`` state doc (no doc, or
        no Silver table: all of Bronze is new). The merge is order-aware,
        so the result equals ``silver_snapshot`` over the same Bronze even
        when a late row is older than its Silver row. ``order_by`` must
        use columns Silver keeps. ``expectations`` gate the staged
        write; a violation leaves Silver and the state doc as they were.
        The state doc is written after the Silver swap: a crash between
        the two re-merges the same files on retry, which changes nothing.
        """
        bn = bronze_name or name
        bronze_ds = self.catalog.datasets.get(f"bronze.{bn}") or self.catalog.define(
            "bronze", bn
        )
        ds = self.catalog.datasets.get(f"silver.{name}") or self.catalog.define(
            "silver", name, partition_by=tuple(partition_by)
        )
        state = f"silver.{name}"
        recover_swap(ds.path)  # a swap cut by a crash must not read as "no Silver"
        files = data_files(bronze_ds.path)
        done = set()
        if data_files(ds.path):
            done = set((self.store.read_doc(state) or {}).get("bronze_files", ()))
        new = [f for f in files if f not in done]
        if not new:
            return self.catalog.read(self.spark, ds.name)
        delta = self.catalog.read(self.spark, bronze_ds.name, files=new)
        if drop_audit:
            delta = delta.drop("_ingest_ts", "_ingest_date", "_source")
        # merge_upsert dedupes the delta: its window runs over the delta
        # and the matched Silver rows together.
        schema = merge_upsert(
            self.spark, ds.path, delta, keys, partition_by=ds.partition_by,
            order_by=order_by, expectations=expectations, schema=ds.schema,
        )
        self.catalog.remember(ds.name, schema)
        self.store.write_doc(state, {"bronze_files": files})
        return self.catalog.read(self.spark, ds.name)

    # -- gold ----------------------------------------------------------------

    def gold(
        self,
        name: str,
        build: Callable[[Mapping[str, DataFrame]], DataFrame],
        inputs: Sequence[str],
        partition_by: Sequence[str] = (),
    ) -> DataFrame:
        """Gold build — job 04/06's shape: ``build`` receives the named
        input DataFrames (silver/gold layers) and returns the result, which
        is overwritten to ``gold.<name>``."""
        for q in inputs:
            if q not in self.catalog.datasets:
                layer, _, nm = q.partition(".")
                self.catalog.define(layer, nm)
        frames = {q: self.catalog.read(self.spark, q) for q in inputs}
        out = build(frames)
        ds = self.catalog.datasets.get(f"gold.{name}") or self.catalog.define(
            "gold", name, partition_by=tuple(partition_by)
        )
        self.catalog.write(out, ds.name, mode="overwrite")
        return self.catalog.read(self.spark, ds.name)
