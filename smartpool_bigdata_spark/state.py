"""Incremental-ingest state: watermark stores and keyset predicates.

The reference keeps single-row Delta tables under ``_state/`` holding the
last ingest watermark (``spark-apps/02_ingest_smartpool.py:17,34-42``), and
its hardest-won lesson is timestamp precision: SQL Server ``datetime2(7)``
watermarks round-tripped through Spark TimestampType lost fractional
digits, silently re-ingesting or skipping rows
(``ProyectoFinal_ASBD_PMD_IVHG/main.tex:150``, ``NOTAS.md:3``). The fix the
notebook landed on — and the protocol here — is:

* watermarks are stored and compared as **strings** (never parsed into a
  lossy type), with ``CONVERT(varchar(33), ..., 126)``-style full precision
  (``notebooks/02_ingest_smartpool.ipynb:119-141``);
* the incremental predicate is a **keyset**: ``ts > last_ts OR (ts =
  last_ts AND pk > last_pk)`` so equal-timestamp rows are neither skipped
  nor double-ingested (:127-128).

Scale: the state doc is a few bytes of JSON that the driver reads and
writes with plain file I/O — no Spark job, no Python worker. The predicate
it generates is pushed down (to the JDBC source as SQL, to parquet as a
min/max-pruned filter), so an incremental run's cost is proportional to
the delta, not the table.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# 26 chars: "yyyy-MM-dd HH:mm:ss.SSSSSS" — full Spark µs precision.
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


class WatermarkStore:
    """Named state documents, one small JSON file each at
    ``<root>/_state/<name>.json``.

    Three watermark protocols, mirroring the reference's three flows
    (§3.1-3.2): ``last_ts`` (string timestamp), ``keyset`` (string
    timestamp + pk), ``last_date`` (date string) — the fields of the
    reference's single-row state table
    (``spark-apps/02_ingest_smartpool.py:40-42``), kept on the driver.
    ``read_doc``/``write_doc`` hold any other small per-name state (the
    Silver merge's list of Bronze files it has merged).

    A write goes to a temp file in ``_state/`` that is then
    ``os.replace``d over the doc, so a crash leaves the old doc or the new
    one, never a torn one. A missing doc means "no state yet" (first run);
    a doc that exists but cannot be parsed raises ``ValueError`` instead of
    reading as "no state", which would re-ingest the whole source.
    ``spark`` is unused and kept for the constructor's call shape.
    """

    def __init__(self, spark: SparkSession | None, root: str):
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, "_state", f"{name}.json")

    def read_doc(self, name: str) -> dict | None:
        path = self._path(name)
        try:
            with open(path, encoding="utf-8") as f:
                doc = json.load(f)
        except FileNotFoundError:
            return None
        except ValueError as exc:  # bad JSON or bad UTF-8
            raise ValueError(f"state doc {path} cannot be parsed: {exc}") from exc
        if not isinstance(doc, dict):
            raise ValueError(f"state doc {path} is not a JSON object")
        return doc

    def write_doc(self, name: str, doc: dict) -> None:
        path = self._path(name)
        folder = os.path.dirname(path)
        os.makedirs(folder, exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix=f".{name}.", suffix=".tmp", dir=folder)
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                json.dump(doc, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, path)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def _fields(self, name: str, *keys: str):
        doc = self.read_doc(name)
        if doc is None:
            return None
        missing = [k for k in keys if k not in doc]
        if missing:
            raise ValueError(f"state doc {self._path(name)} lacks {missing}")
        return tuple(doc[k] for k in keys)

    # -- last_ts protocol ---------------------------------------------------
    def read_last_ts(self, name: str) -> str | None:
        got = self._fields(name, "last_ts")
        return got[0] if got else None

    def write_last_ts(self, name: str, last_ts: str) -> None:
        self.write_doc(name, {"last_ts": last_ts})

    # -- keyset protocol ----------------------------------------------------
    def read_keyset(self, name: str) -> tuple[str, int] | None:
        return self._fields(name, "last_ts", "last_pk")

    def write_keyset(self, name: str, last_ts: str, last_pk: int) -> None:
        self.write_doc(name, {"last_ts": last_ts, "last_pk": last_pk})

    # -- last_date protocol -------------------------------------------------
    def read_last_date(self, name: str) -> str | None:
        got = self._fields(name, "last_date")
        return got[0] if got else None

    def write_last_date(self, name: str, last_date: str) -> None:
        self.write_doc(name, {"last_date": last_date})


def ts_string(col: Column | str) -> Column:
    """Render a timestamp column as a full-precision string watermark."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, TS_FMT)


def keyset_predicate(
    ts_col: str, pk_col: str | None, last_ts: str, last_pk: int | None = None
) -> Column:
    """Column predicate ``ts > wm OR (ts = wm AND pk > last_pk)``.

    The comparison casts the STRING watermark to timestamp on the engine
    side — exact at µs precision — never the reverse (parsing engine
    timestamps into a client type is where the reference lost digits).
    """
    wm = F.lit(last_ts).cast("timestamp")
    newer = F.col(ts_col) > wm
    if pk_col is None or last_pk is None:
        return newer
    return newer | ((F.col(ts_col) == wm) & (F.col(pk_col) > F.lit(last_pk)))


def keyset_query_sql(
    table: str,
    ts_col: str,
    pk_col: str,
    last_ts: str,
    last_pk: int,
    dialect: str = "sqlserver",
) -> str:
    """Pushdown SQL for a JDBC keyset-incremental scan (S3).

    Mirrors the notebook's generated query
    (``notebooks/02_ingest_smartpool.ipynb:125-136``): strictly-newer OR
    equal-ts-higher-pk, with the timestamp re-exported at source precision
    (``CONVERT(varchar(33), ts, 126)`` on SQL Server) so the NEXT watermark
    is also lossless.
    """
    if dialect == "sqlserver":
        ts_literal = f"CAST('{last_ts}' AS datetime2(7))"
        ts_export = f"CONVERT(varchar(33), {ts_col}, 126) AS {ts_col}_str"
    elif dialect == "derby":
        # Derby (embedded, ships with Spark — the live-tested dialect):
        # Spark's JDBC writer creates case-sensitive quoted identifiers,
        # so every column reference must be double-quoted or Derby
        # uppercases it into a miss; CAST(ts AS VARCHAR) preserves
        # microseconds (round-trip pinned by the live test).
        ts_literal = f"CAST('{last_ts}' AS TIMESTAMP)"
        return (
            f'SELECT t.*, CAST("{ts_col}" AS VARCHAR(33)) AS "{ts_col}_str" '
            f"FROM {table} t "
            f'WHERE "{ts_col}" > {ts_literal} '
            f'OR ("{ts_col}" = {ts_literal} AND "{pk_col}" > {last_pk})'
        )
    else:  # ansi
        ts_literal = f"CAST('{last_ts}' AS TIMESTAMP)"
        ts_export = f"CAST({ts_col} AS varchar(33)) AS {ts_col}_str"
    return (
        f"SELECT *, {ts_export} FROM {table} "
        f"WHERE {ts_col} > {ts_literal} "
        f"OR ({ts_col} = {ts_literal} AND {pk_col} > {last_pk})"
    )


def read_increment(
    source_df: DataFrame,
    store: WatermarkStore,
    name: str,
    ts_col: str,
    pk_col: str | None = None,
) -> DataFrame:
    """Filter ``source_df`` to rows strictly after the stored watermark
    (keyset tie-break when ``pk_col`` is given). First run (no state) reads
    everything. The returned plan carries a plain comparison predicate, so
    Catalyst pushes it to the scan (JDBC WHERE / parquet min-max pruning).
    """
    if pk_col is not None:
        state = store.read_keyset(name)
        if state is None:
            return source_df
        return source_df.filter(keyset_predicate(ts_col, pk_col, state[0], state[1]))
    last_ts = store.read_last_ts(name)
    if last_ts is None:
        return source_df
    return source_df.filter(keyset_predicate(ts_col, None, last_ts))


def incremental_ingest(
    source_df: DataFrame,
    store: WatermarkStore,
    name: str,
    ts_col: str,
    write_fn,
    pk_col: str | None = None,
) -> bool:
    """Full ingest step: read increment → land it via ``write_fn(delta)`` →
    advance watermark. Returns False (and leaves state untouched) when the
    increment is empty. The engine twin of the reference's per-table ingest
    loop (``spark-apps/02_ingest_smartpool.py:34-76``).

    The filtered source is checkpointed once (its rows are pinned: the
    source may move on), and ONE aggregate over the checkpointed rows —
    observed on the checkpoint job itself, so it costs no pass of its
    own — yields both the emptiness test and the next watermark (max
    ts[, pk at max ts]). The watermark is written only AFTER ``write_fn``
    returns — the reference's order (Bronze append ``:67-72`` THEN state
    overwrite ``:74-76``), which makes a failed downstream write
    retryable (at-least-once) instead of silently skipping rows. A delta
    whose timestamps are all null lands but leaves the state untouched.
    """
    agg = [F.count(F.lit(1)).alias("n"), F.max(ts_string(ts_col)).alias("ts")]
    if pk_col is not None:
        agg.append(F.max_by(F.col(pk_col), F.struct(ts_col, pk_col)).alias("pk"))
    head = Observation()
    delta = read_increment(source_df, store, name, ts_col, pk_col).observe(head, *agg)
    delta = delta.localCheckpoint(eager=True)
    row = head.get
    if row["n"] == 0:
        return False
    write_fn(delta)
    if row["ts"] is not None:
        if pk_col is not None:
            store.write_keyset(name, row["ts"], row["pk"])
        else:
            store.write_last_ts(name, row["ts"])
    return True
