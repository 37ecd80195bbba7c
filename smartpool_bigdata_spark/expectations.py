"""Declarative data-quality expectations (SURVEY.md §2.9).

The reference validates its Silver/Gold layers with inline QA cells that
``raise`` on violation — uniqueness, critical-nulls, domain membership, FK
orphans, physical partitioning, expected cardinality, null-rate profiling
(``notebooks/03_silver_smartpool.ipynb:648-714``,
``notebooks/05_ingest_electricity_csv.ipynb:409``,
``notebooks/06_gold_electricity_enrichment.ipynb:460-500``). Here the same
checks are a declarative suite: each expectation compiles to ONE aggregate
over the DataFrame, and the whole suite is validated in a SINGLE pass
(one job, map-side combined) instead of one action per check — at 100 TB
the difference between N scans and 1 scan of the table.

Checks that cannot fold into the single pass (uniqueness needs a groupBy,
FK needs a join) run as their own minimal job, each still expressible as
one shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ExpectationError(AssertionError):
    """Raised by ``Suite.validate`` with every failed expectation listed."""


@dataclass
class Violation:
    check: str
    detail: str

    def __str__(self) -> str:  # pragma: no cover - cosmetic
        return f"{self.check}: {self.detail}"


# --- single-pass (aggregate-foldable) checks --------------------------------


@dataclass
class NotNull:
    """Critical-column null check (reference: "pool_id IS NULL OR ..." cells)."""

    columns: Sequence[str]

    def aggs(self, tag: str = ""):
        return [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn{tag}_{c}")
            for c in self.columns
        ]

    def violations(self, row, tag: str = "") -> list[Violation]:
        return [
            Violation("not_null", f"column {c!r} has {row[f'__nn{tag}_{c}']} null rows")
            for c in self.columns
            if row[f"__nn{tag}_{c}"]
        ]


@dataclass
class InSet:
    """Domain/catalog membership (reference: ``~isin(allowed)`` QA)."""

    column: str
    allowed: Sequence

    def aggs(self, tag: str = ""):
        cond = ~F.col(self.column).isin(list(self.allowed)) & F.col(self.column).isNotNull()
        return [F.sum(F.when(cond, 1).otherwise(0)).alias(f"__is{tag}_{self.column}")]

    def violations(self, row, tag: str = "") -> list[Violation]:
        n = row[f"__is{tag}_{self.column}"]
        if n:
            return [Violation("in_set", f"column {self.column!r}: {n} rows outside domain")]
        return []


@dataclass
class InRange:
    """Value-range check (reference: sensor DQ ``between`` rules)."""

    column: str
    lo: float
    hi: float

    def aggs(self, tag: str = ""):
        cond = ~F.col(self.column).between(self.lo, self.hi) & F.col(self.column).isNotNull()
        return [F.sum(F.when(cond, 1).otherwise(0)).alias(f"__ir{tag}_{self.column}")]

    def violations(self, row, tag: str = "") -> list[Violation]:
        n = row[f"__ir{tag}_{self.column}"]
        if n:
            return [
                Violation(
                    "in_range",
                    f"column {self.column!r}: {n} rows outside [{self.lo}, {self.hi}]",
                )
            ]
        return []


@dataclass
class RowCountBetween:
    """Expected-cardinality check (reference: 24 rows/day/region)."""

    lo: int
    hi: int | None = None

    def aggs(self, tag: str = ""):
        return [F.count(F.lit(1)).alias(f"__rc{tag}")]

    def violations(self, row, tag: str = "") -> list[Violation]:
        n = row[f"__rc{tag}"]
        if n < self.lo or (self.hi is not None and n > self.hi):
            return [Violation("row_count", f"count {n} outside [{self.lo}, {self.hi}]")]
        return []


def grouped_cardinality(
    df: DataFrame,
    group_cols: Sequence[str],
    expect: RowCountBetween,
    count_alias: str = "n_rows",
    verdict_alias: str = "cardinality_check",
    extra_aggs: Sequence = (),
) -> DataFrame:
    """Per-group expected-cardinality profile (DQ6: the reference asserts
    24 hourly rows per day per region,
    ``notebooks/05_ingest_electricity_csv.ipynb:409``).

    ``RowCountBetween`` alone folds into a GLOBAL single-pass aggregate;
    the reference's check is per-group, so this compiles the same bounds
    into one hash aggregate over ``group_cols`` and emits one row per
    group carrying the observed count and an ``ok`` /
    ``VIOLATION:<count>`` verdict column — fully distributed (the
    verdict is a column expression, never a driver-side loop), so it
    scales to any group count. Feed the result to a sink for a QA table,
    or filter on the verdict to gate the batch. ``extra_aggs`` ride the
    SAME hash aggregate (aliased Columns), so profiling extra per-group
    measures costs no second shuffle.
    """
    tag = ""
    agged = df.groupBy(*group_cols).agg(*expect.aggs(tag), *extra_aggs)
    cnt = F.col(f"__rc{tag}")
    bad = cnt < expect.lo
    if expect.hi is not None:
        bad = bad | (cnt > expect.hi)
    skip = set(group_cols) | {f"__rc{tag}"}
    extra_names = [c for c in agged.columns if c not in skip]
    return agged.select(
        *group_cols,
        cnt.alias(count_alias),
        *extra_names,
        F.when(
            bad, F.concat(F.lit("VIOLATION:"), cnt.cast("string"))
        ).otherwise(F.lit("ok")).alias(verdict_alias),
    )


# --- own-job checks ---------------------------------------------------------


@dataclass
class Unique:
    """Primary-key uniqueness (reference: groupBy(pk).count()>1 cell).

    One hash-shuffle on the key; only violating keys come back.
    """

    keys: Sequence[str]

    def check(self, df: DataFrame) -> list[Violation]:
        dup = (
            df.groupBy(*self.keys)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
        )
        if not dup.isEmpty():
            return [Violation("unique", f"duplicate keys exist for {list(self.keys)}")]
        return []


@dataclass
class ForeignKey:
    """FK orphan check (reference: left-anti join QA cell).

    Broadcast the dim side when small → no fact shuffle at all.
    """

    fact_key: str
    dim: DataFrame
    dim_key: str
    broadcast: bool = True

    def check(self, df: DataFrame) -> list[Violation]:
        dim = self.dim.select(self.dim_key).distinct()
        if self.broadcast:
            dim = F.broadcast(dim)
        orphans = df.join(
            dim, df[self.fact_key] == dim[self.dim_key], "left_anti"
        )
        if not orphans.isEmpty():
            return [
                Violation(
                    "foreign_key",
                    f"{self.fact_key!r} has values missing from dim.{self.dim_key}",
                )
            ]
        return []


@dataclass
class PartitionedBy:
    """Physical-partitioning assertion (reference: DESCRIBE DETAIL cell).

    Parquet/Delta layout check on the sink path, not the DataFrame.
    """

    path: str
    columns: Sequence[str]

    def check(self, _df: DataFrame | None = None) -> list[Violation]:
        import os

        missing = []
        for c in self.columns:
            try:
                entries = os.listdir(self.path)
            except OSError as exc:
                return [Violation("partitioned_by", f"cannot list {self.path}: {exc}")]
            if not any(e.startswith(f"{c}=") for e in entries):
                missing.append(c)
        if missing:
            return [
                Violation("partitioned_by", f"no {missing} partition dirs under {self.path}")
            ]
        return []


@dataclass
class Suite:
    """A set of expectations validated together.

    ``validate`` raises ``ExpectationError`` listing all violations;
    ``profile`` returns them without raising (the reference does both:
    raising QA cells and null-rate profiling).
    """

    checks: list = field(default_factory=list)

    def add(self, check) -> "Suite":
        self.checks.append(check)
        return self

    def _foldable(self) -> list[tuple[str, object]]:
        """(tag, check) pairs for the aggregate-foldable checks. The tag
        is the check's index in the suite, baked into every metric alias
        so two same-typed checks on the same column (e.g. two InRange on
        'ph' with different bounds) never collide in the single shared
        ``df.agg``/``df.observe`` list — a duplicate alias either fails
        analysis or silently reads the wrong metric."""
        return [
            (f"_{i}", c) for i, c in enumerate(self.checks) if hasattr(c, "aggs")
        ]

    def profile(self, df: DataFrame) -> list[Violation]:
        foldable = self._foldable()
        own_job = [c for c in self.checks if not hasattr(c, "aggs")]
        violations: list[Violation] = []
        if foldable:
            aggs = [a for tag, c in foldable for a in c.aggs(tag)]
            row = df.agg(*aggs).collect()[0]
            for tag, c in foldable:
                violations.extend(c.violations(row, tag))
        for c in own_job:
            violations.extend(c.check(df))
        return violations

    def validate(self, df: DataFrame) -> None:
        violations = self.profile(df)
        if violations:
            raise ExpectationError(
                "; ".join(str(v) for v in violations)
            )

    # --- zero-extra-pass validation via df.observe ---------------------

    def observe(self, df: DataFrame, name: str = "expectations"):
        """Attach the suite's foldable checks to ``df`` as an Observation.

        Returns ``(observed_df, observation)``. The metrics are computed
        DURING whatever action the caller runs next (typically the write
        that materializes the table), costing zero additional passes —
        versus ``profile``/``validate``, which run their own aggregate
        job. At 100 TB that is the difference between validating for free
        inside the ingest job and re-scanning the freshly written table.

        Only aggregate-foldable checks (NotNull/InSet/InRange/
        RowCountBetween) ride the observation; groupBy/join checks
        (Unique, ForeignKey) still need their own job — call
        ``validate_observation(obs, df)`` to run both halves.
        """
        from pyspark.sql import Observation

        aggs = [a for tag, c in self._foldable() for a in c.aggs(tag)]
        if not aggs:
            # nothing foldable: no Observation to wait on (obs.get would
            # block forever on a metric-less observation)
            return df, None
        obs = Observation(name)
        return df.observe(obs, *aggs), obs

    def validate_observation(
        self, obs, df: DataFrame | None = None, unique_keys: Sequence[str] = ()
    ) -> None:
        """Raise on violations recorded by an ``observe`` run.

        ``obs.get`` blocks until the observed DataFrame's action has
        completed. Pass ``df`` to ALSO run the non-foldable (own-job)
        checks; omit it to validate only the free observed half.
        ``unique_keys`` names columns ``df`` already holds one row per
        value of (a ``latest_by_key`` output): a ``Unique`` over a
        superset of them cannot fail, so it runs no job.
        """
        row = obs.get if obs is not None else {}
        implied = set(unique_keys)
        violations: list[Violation] = []
        for i, c in enumerate(self.checks):
            if hasattr(c, "aggs"):
                if obs is not None:
                    violations.extend(c.violations(row, f"_{i}"))
            elif df is not None and not (
                implied and isinstance(c, Unique) and implied <= set(c.keys)
            ):
                violations.extend(c.check(df))
        if violations:
            raise ExpectationError("; ".join(str(v) for v in violations))


def quarantine_split(
    df: DataFrame, rules: Sequence[tuple[str, object]]
) -> tuple[DataFrame, DataFrame]:
    """Row-level disposition for ingest pipelines: split a frame into
    (valid, invalid) where ``rules`` is an ordered list of
    ``(reason, predicate_flagging_INVALID)`` — the FIRST matching rule
    wins, so every bad row lands in exactly one bucket and the
    accounting sums to the input (the same prioritized-verdict device
    as llm_corpus_pipeline_v2). The invalid frame carries the reason in
    ``dq_reason``.

    This is the row-routing complement of ``Suite`` (which gates whole
    frames): Suite answers "may this batch land?", quarantine_split
    answers "which rows land where?". One CASE expression per row — a
    single pass, no shuffle; composes with streams via
    ``streaming.runner.start_foreach_batch_quarantine``.
    """
    expr = None
    for name, pred in rules:
        expr = (
            F.when(pred, F.lit(name))
            if expr is None
            else expr.when(pred, F.lit(name))
        )
    if expr is None:
        raise ValueError("quarantine_split needs at least one rule")
    col = "__dq_reason"
    while col in df.columns:
        col += "_"
    flagged = df.withColumn(col, expr)
    valid = flagged.filter(F.col(col).isNull()).drop(col)
    invalid = flagged.filter(F.col(col).isNotNull()).withColumnRenamed(
        col, "dq_reason"
    )
    return valid, invalid
