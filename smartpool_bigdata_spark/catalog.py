"""Named-dataset catalog.

The reference addresses every table by a raw ``s3a://`` path string scattered
through its jobs (``spark-apps/smartpool_config.py:13-17``). Here datasets
are addressed by name through a catalog that knows path, format and
type-normalization rules — one place to fix schema/precision drift, which
was the reference's biggest operational bug class
(``ProyectoFinal_ASBD_PMD_IVHG/main.tex:150-153``).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from smartpool_bigdata_spark.session import apply_runtime_confs

# Tables the test driver materializes (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_ns_timestamps(df: DataFrame, ns_columns: dict[str, str]) -> DataFrame:
    """Convert ns-as-long epoch columns to microsecond timestamps.

    With ``spark.sql.legacy.parquet.nanosAsLong=true`` a parquet
    TIMESTAMP(NANOS) column arrives as LongType epoch-nanos. Integral
    division avoids a double round-trip (ns epochs exceed double's 53-bit
    exact range); ``floor(... / 1000)`` semantics (not truncate-toward-zero)
    keep the conversion exact for pre-1970 negative epochs too.
    """
    for col, dtype in ns_columns.items():
        if dtype == "bigint":
            df = df.withColumn(
                col,
                F.expr(
                    f"timestamp_micros(CASE WHEN `{col}` >= 0 THEN `{col}` div 1000 "
                    f"ELSE -((-`{col}` + 999) div 1000) END)"
                ),
            )
    return df


# Scan split-count per table path (see load_table(spread=...)).
_SCAN_PARTITIONS: dict[str, int] = {}

# Columns that are known event-time timestamps per table; these get
# ns→µs normalization when the parquet file stores nanos.
_TIMESTAMP_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _epoch_ns(ts: str) -> int:
    """Epoch nanoseconds for a 'YYYY-mm-dd HH:MM:SS[.ffffff]' UTC string,
    computed in integer arithmetic (a float round-trip loses sub-µs)."""
    import calendar
    from datetime import datetime

    dt = datetime.fromisoformat(ts)
    return calendar.timegm(dt.timetuple()) * 10**9 + dt.microsecond * 1_000


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_bounds: dict[str, tuple[str | None, str | None]] | None = None,
    spread: bool = False,
) -> DataFrame:
    """Load one testdata table with normalized types.

    ``ts_bounds`` maps a timestamp column to an inclusive (lo, hi) bound
    (UTC strings, either side None). The predicate is applied **before**
    ns→µs normalization — in raw epoch-long space when the parquet stores
    TIMESTAMP(NANOS) — because a filter on the *converted* column is an
    expression over the raw long and cannot reach the scan: Catalyst would
    read every row group. In raw space it pushes down to parquet min/max
    pruning, which at 100 TB is the difference between scanning a time
    slice and scanning the table.
    """
    apply_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for col, (lo, hi) in (ts_bounds or {}).items():
        raw = dtypes.get(col) == "bigint"
        if lo is not None:
            bound = F.lit(_epoch_ns(lo)) if raw else F.lit(lo).cast("timestamp")
            df = df.filter(F.col(col) >= bound)
        if hi is not None:
            bound = F.lit(_epoch_ns(hi)) if raw else F.lit(hi).cast("timestamp")
            df = df.filter(F.col(col) <= bound)
    ns_cols = {
        c: dtypes[c]
        for c in _TIMESTAMP_COLUMNS.get(name, ())
        if dtypes.get(c) == "bigint"
    }
    df = _normalize_ns_timestamps(df, ns_cols)
    if spread:
        # The testdata files are single-row-group parquet, so the scan
        # arrives as ONE split and every downstream map stage serializes
        # on one core. Re-spread only when under-split: at cluster scale a
        # table arrives in thousands of splits and this is a no-op, so no
        # gratuitous full-table shuffle is introduced where it would hurt.
        # The split-count probe costs a physical-planning pass, so it is
        # cached per table path for the life of the process.
        target = spark.sparkContext.defaultParallelism
        key = os.path.join(sf_dir, name)
        parts = _SCAN_PARTITIONS.get(key)
        if parts is None:
            parts = df.rdd.getNumPartitions()
            _SCAN_PARTITIONS[key] = parts
        if parts < target:
            df = df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> None:
    """Register each table as a temp view for spark.sql queries."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


@dataclass
class Dataset:
    name: str
    path: str
    fmt: str = "parquet"
    partition_by: tuple[str, ...] = ()
    # The schema a read of ``path`` yields, known from the engine's last
    # write there; None means "infer it from the files".
    schema: StructType | None = None


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field and element nullable, as a parquet read
    reports it."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def data_files(path: str) -> list[str]:
    """Data files under a table directory, as sorted paths relative to it
    (partition directories included) — a driver-side listing, no Spark
    job. Hidden and metadata files (``_SUCCESS``, ``.crc``) are skipped."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel = os.path.relpath(root, path)
        out += [
            f if rel == "." else os.path.join(rel, f)
            for f in files
            if not f.startswith(("_", "."))
        ]
    return sorted(out)


@dataclass
class Catalog:
    """Path-layout catalog for medallion pipelines (Bronze/Silver/Gold).

    Mirrors the reference's BASE/BRONZE/SILVER/GOLD/_state layout
    (``spark-apps/smartpool_config.py:13-17``) but with named registration
    instead of hardcoded strings.
    """

    root: str
    fmt: str = "parquet"  # "delta" when delta-spark is on the classpath
    datasets: dict[str, Dataset] = field(default_factory=dict)

    def layer_path(self, layer: str, name: str) -> str:
        return os.path.join(self.root, layer, name)

    def define(self, layer: str, name: str, partition_by: tuple[str, ...] = ()) -> Dataset:
        ds = Dataset(
            name=f"{layer}.{name}",
            path=self.layer_path(layer, name),
            fmt=self.fmt,
            partition_by=partition_by,
        )
        self.datasets[ds.name] = ds
        return ds

    def get(self, qualified: str) -> Dataset:
        return self.datasets[qualified]

    def read(
        self, spark: SparkSession, qualified: str, files: Sequence[str] | None = None
    ) -> DataFrame:
        """Read a dataset — with its remembered schema when the engine
        wrote it (no schema-inference job), else inferred from the files.
        ``files`` (paths relative to the dataset root, as ``data_files``
        lists them) restricts the read to those data files; partition
        columns still come from the directory layout."""
        ds = self.get(qualified)
        reader = spark.read.format(ds.fmt)
        if ds.schema is not None:
            reader = reader.schema(ds.schema)
        if files is None:
            return reader.load(ds.path)
        paths = [os.path.join(ds.path, f) for f in files]
        return reader.option("basePath", ds.path).load(paths)

    def write(
        self,
        df: DataFrame,
        qualified: str,
        mode: str = "append",
        overwrite_schema: bool = False,
    ) -> None:
        ds = self.get(qualified)
        fresh = not os.path.exists(ds.path)
        writer = df.write.format(ds.fmt).mode(mode)
        if ds.partition_by:
            writer = writer.partitionBy(*ds.partition_by)
        if overwrite_schema and ds.fmt == "delta":
            writer = writer.option("overwriteSchema", "true")
        writer.save(ds.path)
        self.remember(qualified, df.schema, replaced=fresh or mode == "overwrite")

    def remember(self, qualified: str, schema: StructType, replaced: bool = True) -> None:
        """Record that the engine wrote rows of ``schema`` to ``qualified``,
        so later reads skip schema inference. ``replaced=False`` (an
        append onto existing files) keeps the memo only when it already
        equals ``schema``: files of another or unknown schema may be
        there, so reads go back to inference. Parquet only — a Delta
        table's log already carries its schema."""
        ds = self.get(qualified)
        if ds.fmt != "parquet":
            return
        parts = [schema[c] for c in ds.partition_by]
        data = [f for f in schema.fields if f.name not in ds.partition_by]
        read_schema = _nullable(StructType(data + parts))
        ds.schema = read_schema if replaced or ds.schema == read_schema else None
