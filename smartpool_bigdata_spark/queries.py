"""Query registry: every SURVEY.md §2 operator exercised as a named query
over the driver's testdata tables, each paired with a DuckDB oracle SQL.

Conventions that make the oracle comparison exact:

* Every computed column is aliased identically in Spark and SQL.
* Aggregates over doubles are ``round()``-ed (2-6 decimals) on BOTH sides so
  summation-order differences between engines can't flip the value hash.
* DuckDB ``sum(INTEGER)`` returns HUGEINT and ``hour()``/rank functions
  return BIGINT — oracles cast to BIGINT/INTEGER to match Spark's types.
* Timestamps are µs precision on both sides (catalog normalizes parquet ns).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartpool_bigdata_spark.catalog import load_table
from smartpool_bigdata_spark.functions import stable_avg, stable_sum
from smartpool_bigdata_spark.ops import (
    case_when_chain,
    conditional_pivot,
    duplicate_keys,
    latest_by_key,
    map_lookup,
    orphan_rows,
    top_n_per_group,
    tumbling_agg,
)


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""
    # Marks queries that run real streams or staged I/O (streaming drains,
    # ingest round-trips), plus a few quadratic or iterative demos; the
    # plan sweeps (tests/test_plans.py, scripts/shuffle_audit.py,
    # scripts/plan_audit.py, scripts/broadcast_audit.py) skip them.
    skip_bench: bool = False


REGISTRY: dict[str, Query] = {}


def _wrap_double_rounds(sql: str) -> str:
    """Rewrite every ``round(expr, s)`` in a DuckDB oracle to
    ``CAST(round(CAST(CAST(expr AS VARCHAR) AS DECIMAL(38,20)), s) AS DOUBLE)``.

    Spark's ``round(double, s)`` rounds the SHORTEST DECIMAL REPRESENTATION
    of the double (``BigDecimal.valueOf`` → HALF_UP); DuckDB rounds the raw
    binary value. They disagree exactly on representation boundaries — e.g.
    the double nearest 47.25375 prints as "47.25375" so Spark rounds up to
    47.2538, while its binary value 47.253749999... rounds down. DuckDB
    also prints doubles as shortest round-trip strings, so the
    VARCHAR→DECIMAL hop reproduces Spark's semantics bit-for-bit (verified
    over boundary cases incl. negatives and sub-scale magnitudes; scale 20
    holds every digit of a 17-significant-digit shortest repr for
    magnitudes down to 1e-3, and exact-boundary rationals below that
    round identically on both sides). Applied mechanically to every oracle at registration
    so the convention cannot be forgotten on new queries. (Round-1's
    residual float-rounding failure and its sf0.1 recurrences were exactly
    this class.)
    """
    out = []
    i = 0
    n = len(sql)
    while i < n:
        j = sql.find("round(", i)
        if j < 0:
            out.append(sql[i:])
            break
        # don't match identifiers like x_round( ; allow leading ( or space
        if j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"):
            out.append(sql[i : j + 6])
            i = j + 6
            continue
        depth = 1
        k = j + 6
        top_comma = -1
        while k < n and depth:
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                top_comma = k
            k += 1
        inner = sql[j + 6 : k - 1]
        if top_comma < 0 or depth:
            out.append(sql[i:k])
            i = k
            continue
        expr = sql[j + 6 : top_comma]
        scale = sql[top_comma + 1 : k - 1]
        expr_wrapped = _wrap_double_rounds(expr)  # nested rounds too
        out.append(sql[i:j])
        out.append(
            f"CAST(round(CAST(CAST({expr_wrapped} AS VARCHAR) AS DECIMAL(38,20)),{scale}) AS DOUBLE)"
        )
        i = k
    return "".join(out)


def query(
    name: str,
    oracle: str | None = None,
    description: str = "",
    skip_bench: bool = False,
):
    def deco(fn):
        wrapped = _wrap_double_rounds(oracle) if oracle is not None else None
        REGISTRY[name] = Query(name, fn, wrapped, description, skip_bench)
        return fn

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _view(spark, sf_dir, base: str, df=None) -> str:
    """Register ``df`` (default: the table ``base`` names) as a temp view
    whose name is derived from ``sf_dir`` and return the name.

    SQL-text queries need a catalog name; a FIXED name avoids the
    per-call uuid leak but bakes one sf_dir's data into a session-global
    slot — two threads sharing a SparkSession could interleave
    create/sql and read the wrong scale factor (r10 ADVICE). Keying the
    name on sf_dir makes concurrent runners at different SFs safe (the
    residual race — two threads on the SAME sf_dir — is benign: both
    register identical frames) while keeping the catalog bounded at one
    view per (query, sf_dir)."""
    import re as _re

    suffix = _re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_")
    name = f"__{base}_{suffix}"
    (df if df is not None else _t(spark, sf_dir, base)).createOrReplaceTempView(
        name
    )
    return name


def _ts(spark, sf_dir, name):
    """Spread variant for CPU-heavy map pipelines (text hashing, vector
    math): re-splits an under-split scan (the testdata is single-row-group
    parquet → 1 partition) so per-row work uses all cores; a no-op on a
    cluster where the scan already arrives in many splits. Light queries
    keep plain ``_t`` — for them the extra exchange costs more than the
    parallelism buys. Filters applied above still push THROUGH the
    repartition to the scan (locked by tests/test_plans.py)."""
    return load_table(spark, sf_dir, name, spread=True)


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4) — hash aggregates with map-side partial combine.
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE), 2)      AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,10))) AS DOUBLE), 2)                  AS sum_disc_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                              AS DECIMAL(38,10))) AS DOUBLE), 2)                  AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE)
                 / count(l_quantity), 4)                                          AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE)
                 / count(l_extendedprice), 4)                                     AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE)
                 / count(l_discount), 4)                                          AS avg_disc,
           count(*)                                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1-style pricing summary (A1/A2 multi-aggregate). "
    "Single hash aggregate; Catalyst does partial map-side combine, filter "
    "pushed to parquet scan.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _ts: the 8-aggregate decimal map work over the widest table is the
    # one relational query where re-splitting an under-split scan wins
    # (A/B: 1.1-1.5 s -> 0.9 s steady-state); the other relational
    # queries are shuffle-bound and keep _t.
    li = _ts(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        stable_sum("l_quantity", 2).alias("sum_qty"),
        stable_sum("l_extendedprice", 2).alias("sum_base_price"),
        stable_sum(disc_price, 2).alias("sum_disc_price"),
        stable_sum(disc_price * (1 + F.col("l_tax")), 2).alias("sum_charge"),
        stable_avg("l_quantity", 4).alias("avg_qty"),
        stable_avg("l_extendedprice", 4).alias("avg_price"),
        stable_avg("l_discount", 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "daily_event_stats",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                 / count(value), 4) AS avg_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY CAST(ts AS DATE)
    """,
    description="Daily stats rollup (A1) — mirrors gold electricity_daily_stats "
    "(spark-apps/06_gold_electricity_enrichment.py:31-40).",
)
def daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.col("ts").cast("date").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_avg("value", 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "order_priority_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O_count,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F_count,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P_count,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    description="Conditional-aggregate manual pivot (A3) — mirrors "
    "pool_daily_metrics intervention counts (notebooks/04_gold_smartpool.ipynb:222-232).",
)
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return conditional_pivot(
        orders,
        keys=["o_orderpriority"],
        pivot_col="o_orderstatus",
        values=["O", "F", "P"],
        extra_aggs={"total_price": stable_sum("o_totalprice", 2)},
    )


@query(
    "ingest_watermark",
    oracle="""
    SELECT CAST(max(ts) AS TIMESTAMP) AS last_ts, count(*) AS cnt FROM events
    """,
    description="Global aggregate for incremental-state watermark (A4) — "
    "mirrors max(updated_at) state computation (spark-apps/02_ingest_smartpool.py:74).",
)
def ingest_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.agg(F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_totalprice
    FROM (SELECT *, row_number() OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders)
    WHERE rn = 1
    """,
    description="Latest-per-key dedupe (W1/W2) — THE core Silver operator "
    "(spark-apps/03_silver_smartpool.py:14-20), deterministic tie-break on pk.",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    latest = latest_by_key(
        orders,
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return latest.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_totalprice",
    )


@query(
    "top_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rank_in_group
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    description="Top-N per group, row_number semantics (W3) — mirrors top-5 "
    "expensive hours (notebooks/06_gold_electricity_enrichment.ipynb:242-249).",
)
def top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # 5 distinct priorities -> low_cardinality engages the two-phase plan:
    # salted local top-3 prunes before the 5-partition global window ever
    # sees the table (the round-1 scale audit's named weakness).
    return top_n_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        keys=["o_orderpriority"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        n=3,
        method="row_number",
        rank_col="rank_in_group",
        low_cardinality=True,
    )


@query(
    "peak_event_hours",
    oracle="""
    SELECT event_date, event_hour, avg_value, CAST(rk AS INTEGER) AS peak_rank
    FROM (SELECT event_date, event_hour, round(avg_value_raw, 4) AS avg_value,
                 dense_rank() OVER (PARTITION BY event_date
                                    ORDER BY avg_value_raw DESC) AS rk
          FROM (SELECT CAST(ts AS DATE) AS event_date,
                       CAST(hour(ts) AS INTEGER) AS event_hour,
                       CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                           / count(value) AS avg_value_raw
                FROM events GROUP BY 1, 2))
    WHERE rk <= 3
    """,
    description="Top-N per group, dense_rank semantics (W4) — mirrors gold "
    "peak hours (spark-apps/06_gold_electricity_enrichment.py:51-54).",
)
def peak_event_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # Ranking over an unrounded avg demands determinism: stable_avg's exact
    # decimal sum makes the rank order reproducible across engines/runs.
    hourly = ev.groupBy(
        F.col("ts").cast("date").alias("event_date"),
        F.hour("ts").alias("event_hour"),
    ).agg(stable_avg("value", scale=None).alias("avg_value_raw"))
    top = top_n_per_group(
        hourly,
        keys=["event_date"],
        order_by=[F.col("avg_value_raw").desc()],
        n=3,
        method="dense_rank",
        rank_col="peak_rank",
    )
    return top.select(
        "event_date",
        "event_hour",
        F.round("avg_value_raw", 4).alias("avg_value"),
        "peak_rank",
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "customer_order_summary",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           count(o.o_orderkey) AS order_cnt,
           coalesce(round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,10)))
                               AS DOUBLE), 2), 0.0) AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
    """,
    description="Left equi-join dim→fact + per-key aggregate (J1/J2/A2) — "
    "mirrors daily agg ⟕ pools dim (notebooks/04_gold_smartpool.ipynb:276-286). "
    "Plan: orders are PRE-AGGREGATED by o_custkey before the join, so the "
    "join input is |customers| + |custkeys| rows instead of shuffling the "
    "full fact table through a join then re-grouping — at 100 TB the fact "
    "side collapses map-side (partial agg) before its one shuffle, and the "
    "join carries 2 small columns per key.",
)
def customer_order_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("__cnt"),
        stable_sum("o_totalprice", 2).alias("__spent"),
    )
    return cust.join(
        per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.coalesce(F.col("__cnt"), F.lit(0).cast("bigint")).alias("order_cnt"),
        F.coalesce(F.col("__spent"), F.lit(0.0)).alias("total_spent"),
    )


@query(
    "segment_fee_model",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round(sum(CAST(CASE WHEN c_mktsegment = 'BUILDING'   THEN 50.0
                               WHEN c_mktsegment = 'AUTOMOBILE' THEN 80.0
                               WHEN c_mktsegment = 'MACHINERY'  THEN 150.0
                               WHEN c_mktsegment = 'HOUSEHOLD'  THEN 60.0
                               ELSE 120.0 END AS DOUBLE)), 2) AS total_fee
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    description="CASE WHEN scalar model after an equi-join (J1 + P7) — mirrors "
    "the intervention→cost model (spark-apps/04_gold_smartpool.py:40-47).",
)
def segment_fee_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    fee = case_when_chain(
        [
            (F.col("c_mktsegment") == "BUILDING", 50.0),
            (F.col("c_mktsegment") == "AUTOMOBILE", 80.0),
            (F.col("c_mktsegment") == "MACHINERY", 150.0),
            (F.col("c_mktsegment") == "HOUSEHOLD", 60.0),
        ],
        default=120.0,
    )
    # customer grows with SF (r10 broadcast audit: 1.5k -> 15k rows at
    # 10x) — leave the strategy to Catalyst's scan-stat threshold:
    # broadcast below it, shuffle join at cluster scale, no forced OOM
    joined = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders["o_custkey"] == cust["c_custkey"],
        "inner",
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(fee), 2).alias("total_fee"),
    )


@query(
    "event_orphan_users",
    oracle="""
    SELECT event_type, count(*) AS orphan_events
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
    GROUP BY event_type
    """,
    description="FK orphan QA via left-anti join (J4/§2.9) — mirrors the "
    "orphan pool_id check (notebooks/03_silver_smartpool.ipynb:687-690).",
)
def event_orphan_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    # size-owned join strategy: customer grows with SF (r10 audit)
    orphans = orphan_rows(ev, cust.select("c_custkey"), "user_id", "c_custkey")
    return orphans.groupBy("event_type").agg(F.count(F.lit(1)).alias("orphan_events"))


@query(
    "events_from_customers",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events e
    WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
    GROUP BY event_type
    """,
    description="Referential-integrity filter as left-semi join (J3) — the "
    "clean primitive for the reference's inner-join RI filter "
    "(notebooks/03_silver_smartpool.ipynb:231-232).",
)
def events_from_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    # size-owned join strategy: customer grows with SF (r10 audit)
    kept = ev.join(
        cust.select("c_custkey"),
        ev["user_id"] == F.col("c_custkey"),
        "left_semi",
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "hourly_value_deviation",
    oracle="""
    WITH hourly AS (
        SELECT CAST(ts AS DATE) AS d, CAST(hour(ts) AS INTEGER) AS h, event_type,
               round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                     / count(value), 4) AS hourly_avg
        FROM events GROUP BY 1, 2, 3
    )
    SELECT e.event_id, round(e.value - hourly.hourly_avg, 4) AS deviation
    FROM events e
    JOIN hourly ON CAST(e.ts AS DATE) = hourly.d
               AND CAST(hour(e.ts) AS INTEGER) = hourly.h
               AND e.event_type = hourly.event_type
    """,
    description="Multi-key (3-column) equi-join (J5) — mirrors events × prices "
    "on (date,hour,region) (notebooks/06_gold_electricity_enrichment.ipynb:318).",
)
def hourly_value_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "value",
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").alias("h"),
    )
    # The average is rounded BEFORE the subtraction on both Spark and oracle
    # sides: engines sum doubles in different orders, so an unrounded avg
    # differs in the ~13th digit and rounding the *difference* amplifies
    # that into a flipped last digit (round-1 hash mismatch).
    hourly = ev.groupBy("d", "h", "event_type").agg(
        stable_avg("value", 4).alias("hourly_avg")
    )
    joined = ev.join(hourly, on=["d", "h", "event_type"], how="inner")
    return joined.select(
        "event_id", F.round(F.col("value") - F.col("hourly_avg"), 4).alias("deviation")
    )


# ---------------------------------------------------------------------------
# Projections / scalar expressions / set ops (SURVEY §2.2, §2.6)
# ---------------------------------------------------------------------------


@query(
    "event_cost_model",
    oracle="""
    SELECT event_type,
           round(CAST(sum(CAST(round(CASE event_type WHEN 'click' THEN 0.1 WHEN 'view' THEN 0.05
                           WHEN 'purchase' THEN 0.3 WHEN 'signup' THEN 0.2
                           WHEN 'error' THEN 0.0 ELSE 0.15 END * value, 4)
                          AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_cost,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    description="Literal-map lookup × value with rounding (P8/P10) — mirrors "
    "the create_map kWh cost model (notebooks/06_gold_electricity_enrichment.ipynb:367-377).",
)
def event_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kwh = map_lookup(
        {"click": 0.1, "view": 0.05, "purchase": 0.3, "signup": 0.2, "error": 0.0},
        F.col("event_type"),
        default=0.15,
    )
    cost = F.round(kwh * F.col("value"), 4)
    return ev.groupBy("event_type").agg(
        stable_sum(cost, 2).alias("total_cost"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "event_range_flags",
    oracle="""
    SELECT event_type,
           value BETWEEN 25.0 AND 75.0 AS value_in_range,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                 / count(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    description="Range predicate → boolean flag columns (P5/P6) — mirrors the "
    "sensor validity flags (notebooks/07_kafka_smartpool_sensors.ipynb:421-427).",
)
def event_range_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    flagged = ev.withColumn("value_in_range", F.col("value").between(25.0, 75.0))
    return flagged.groupBy("event_type", "value_in_range").agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_avg("value", 4).alias("avg_value"),
    )


@query(
    "active_ids_union",
    oracle="""
    SELECT user_id AS id FROM events
    UNION
    SELECT o_custkey AS id FROM orders
    """,
    description="Union + distinct (O3/A6) — mirrors the CDC union pattern "
    "(spark-apps/spark_job.py:51).",
)
def active_ids_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    return ev.union(orders).distinct()


@query(
    "order_dup_check",
    oracle="""
    SELECT o_orderkey, count(*) AS dup_count
    FROM orders GROUP BY o_orderkey HAVING count(*) > 1
    """,
    description="Primary-key uniqueness QA (A5/§2.9) — mirrors the duplicate "
    "check (notebooks/03_silver_smartpool.ipynb:658-659). Expected empty.",
)
def order_dup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return duplicate_keys(orders, ["o_orderkey"])


@query(
    "event_null_profile",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user
    FROM events
    """,
    description="Null-rate profiling (§2.9) — mirrors "
    "notebooks/06_gold_electricity_enrichment.ipynb:466-470.",
)
def event_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def nulls(c):
        return F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))

    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        nulls("props").alias("null_props"),
        nulls("value").alias("null_value"),
        nulls("user_id").alias("null_user"),
    )


@query(
    "urgent_open_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_open,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2) AS open_value
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 100000.0
    GROUP BY o_orderpriority
    """,
    description="SQL-string predicate filter (P2) — mirrors "
    "filter('is_heated = true') (spark-apps/01_architecture_smartpool.py:67). "
    "Catalyst parses the string to the same predicate tree as the Column "
    "form, so pushdown to the parquet scan is identical.",
)
def urgent_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    kept = orders.filter("o_orderstatus = 'O' AND o_totalprice > 100000.0")
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_open"),
        stable_sum("o_totalprice", 2).alias("open_value"),
    )


@query(
    "allowed_event_types",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    GROUP BY event_type
    """,
    description="Domain membership isin filter (P4/§2.9 domain check) — "
    "mirrors intervention_type.isin(allowed) "
    "(notebooks/03_silver_smartpool.ipynb:224,681-683).",
)
def allowed_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kept = ev.filter(F.col("event_type").isin("click", "view", "purchase"))
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "top_value_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    description="Multi-key mixed-direction sort + limit (O1/O2) — mirrors "
    "orderBy(date.desc(), hour.asc()) display queries "
    "(notebooks/05_ingest_electricity_csv.ipynb:205-208). Spark plans a "
    "TakeOrderedAndProject: per-partition top-K then driver merge — no "
    "global sort shuffle, scale-safe for small K.",
)
def top_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "event_hourly_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                 / count(value), 4) AS avg_value,
           round(max(value), 4) AS max_value
    FROM events GROUP BY 1, 2
    """,
    description="Tumbling event-time window aggregate (A7/T2), batch plan "
    "identical to the streaming one — mirrors the 1-minute sensor rollup "
    "(spark-apps/07_kafka_smartpool_sensors.py:104-131).",
)
def event_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = tumbling_agg(
        ev,
        ts_col="ts",
        duration="1 hour",
        keys=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "avg_value": stable_avg("value", 4),
            "max_value": F.round(F.max("value"), 4),
        },
    )
    return out.drop("window_end")


@query(
    "event_type_stats_autotuned",
    oracle="""
    WITH prof AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(max(cnt) AS BIGINT) AS mx
        FROM (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)
    ),
    sized AS (
        SELECT n_rows, mx,
               greatest(96, least(least(200000,
                   greatest((n_rows * 256) // 134217728, 1)), 1600)) AS parts
        FROM prof
    ),
    tuned AS (
        SELECT CASE WHEN mx > greatest(n_rows // parts, 1)
                    THEN 'salt' ELSE 'plain' END AS agg_strategy,
               CASE WHEN mx > greatest(n_rows // parts, 1)
                    THEN CAST(least(greatest(
                         (mx + greatest(n_rows // parts, 1) - 1)
                             // greatest(n_rows // parts, 1), 1), 64) AS BIGINT)
                    ELSE CAST(1 AS BIGINT) END AS salt_buckets
        FROM sized
    )
    SELECT e.event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_value,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           t.agg_strategy, t.salt_buckets
    FROM events e, tuned t
    GROUP BY e.event_type, t.agg_strategy, t.salt_buckets
    """,
    description="COST-BASED AUTOTUNER ROUND-TRIP: profile events on its "
    "aggregation key (one hash agg), feed the measured (n_rows, n_keys, "
    "max_key_rows) profile to session.autotune_scale_conf(total_cores=32), "
    "and APPLY its verdict — agg_strategy='salt' whenever the hottest key "
    "overflows the tuner-sized partition row budget (no ratio guard: AQE "
    "skew split only applies to join sides, a hash-agg group must reduce "
    "on one partition), with the tuner's ceil(max_key_rows/budget) bucket "
    "count (capped 64) driving salted_agg's fan-out. The emitted "
    "agg_strategy/salt_buckets columns are recomputed independently by the "
    "oracle in integer SQL, so the gate locks BOTH the tuner's decision "
    "arithmetic and the salted plan's exactness end-to-end — closing the "
    "profile->advice->applied-op loop whose decision half "
    "scale_conf_advisor proves alone. Salting on the COUNT DISTINCT "
    "argument keeps distinct exact: each user lands in one bucket, so "
    "bucket distincts sum to the global. The profile collect is a "
    "driver scalar, like a watermark.",
)
def event_type_stats_autotuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import salted_agg
    from smartpool_bigdata_spark.session import autotune_scale_conf

    ev = _t(spark, sf_dir, "events")
    prof = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("cnt").cast("bigint").alias("max_key_rows"),
        )
        .collect()[0]  # driver scalar profile, like a watermark
    )
    tuned = autotune_scale_conf(
        [{"table_name": "events", **prof.asDict()}], total_cores=32
    )
    adv = tuned["advice"]["events"]
    salting = adv["agg_strategy"] == "salt"
    buckets = int(adv["salt_buckets"]) if salting else 1
    out = salted_agg(
        ev,
        keys=["event_type"],
        partials={
            "n_events": (F.count(F.lit(1)), F.sum),
            "total_value": (F.sum(F.col("value").cast("decimal(38,10)")), F.sum),
            "n_users": (F.countDistinct("user_id"), F.sum),
        },
        salt_buckets=buckets,
        salt_cols=["user_id"],
    )
    return out.select(
        "event_type",
        "n_events",
        F.round(F.col("total_value").cast("double"), 2).alias("total_value"),
        "n_users",
        F.lit(adv["agg_strategy"]).alias("agg_strategy"),
        F.lit(buckets).cast("bigint").alias("salt_buckets"),
    )


@query(
    "events_asof_reference_value",
    oracle="""
    WITH updates AS (
        SELECT event_type, ts,
               round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                     / count(value), 4) AS ref_value
        FROM events WHERE event_id % 97 = 0
        GROUP BY event_type, ts
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN u.ref_value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_before_first_ref,
           round(CAST(sum(CAST(u.ref_value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_ref_value
    FROM events e
    ASOF LEFT JOIN updates u
      ON e.event_type = u.event_type AND u.ts <= e.ts
    GROUP BY e.event_type
    """,
    description="As-of (backward) join — the primitive SURVEY §2.3 flags "
    "as the reference's missing substitute for its hour-bucket price joins "
    "(J5/J6): every event gets the latest 'reference value' update at or "
    "before its timestamp. Spark plan: union-tag + last_value(ignoreNulls) "
    "window — ONE shuffle on the key, O(L+R), never a range-expanded theta "
    "join. Oracle: DuckDB's native ASOF JOIN.",
)
def events_asof_reference_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    updates = (
        ev.filter(F.col("event_id") % 97 == 0)
        .groupBy("event_type", "ts")
        .agg(stable_avg("value", 4).alias("ref_value"))
    )
    joined = asof_join(
        ev,
        updates,
        keys=["event_type"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["ref_value"],
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("ref_value").isNull(), 1).otherwise(0)).alias(
            "n_before_first_ref"
        ),
        stable_sum("ref_value", 2).alias("total_ref_value"),
    )


@query(
    "events_asof_tolerance",
    oracle="""
    WITH updates AS (
        SELECT event_type, ts,
               round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                     / count(value), 4) AS ref_value
        FROM events WHERE event_id % 97 = 0
        GROUP BY event_type, ts
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN u.ts >= e.ts - INTERVAL 6 HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
           CAST(sum(CASE WHEN u.ts IS NOT NULL
                          AND u.ts < e.ts - INTERVAL 6 HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_dropped,
           round(CAST(sum(CASE WHEN u.ts >= e.ts - INTERVAL 6 HOUR
                          THEN CAST(u.ref_value AS DECIMAL(38,10))
                          ELSE 0 END) AS DOUBLE), 2) AS total_ref_value
    FROM events e
    ASOF LEFT JOIN updates u
      ON e.event_type = u.event_type AND u.ts <= e.ts
    GROUP BY e.event_type
    """,
    description="As-of join WITH STALENESS TOLERANCE (the TimescaleDB/"
    "QuestDB 'ASOF ... TOLERANCE' form): each event takes the latest "
    "reference update at or before its timestamp ONLY if that update is "
    "at most 6 hours old — older matches are treated as no-match, the "
    "semantics telemetry joins want when a sensor goes silent. "
    "Implemented by carrying the matched right timestamp through the "
    "same union-tag + last_value window as the plain as-of join (ONE "
    "shuffle on the key, O(L+R), no extra pass); the oracle is DuckDB's "
    "native ASOF JOIN with the tolerance applied as a post-filter on "
    "the matched timestamp, so fresh/stale accounting is value-locked.",
)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    updates = (
        ev.filter(F.col("event_id") % 97 == 0)
        .groupBy("event_type", "ts")
        .agg(stable_avg("value", 4).alias("ref_value"))
    )
    plain = asof_join(
        ev, updates, keys=["event_type"], left_ts="ts", right_ts="ts",
        value_cols=["ref_value"],
    ).withColumnRenamed("ref_value", "any_ref")
    tol = asof_join(
        ev, updates, keys=["event_type"], left_ts="ts", right_ts="ts",
        value_cols=["ref_value"], tolerance="6 hours",
    )
    joined = tol.join(
        plain.select("event_id", "any_ref"), "event_id"
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("ref_value").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fresh"),
        F.sum(
            F.when(
                F.col("ref_value").isNull() & F.col("any_ref").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_stale_dropped"),
        stable_sum(F.coalesce("ref_value", F.lit(0.0)), 2).alias(
            "total_ref_value"
        ),
    )


@query(
    "events_asof_nearest",
    oracle="""
    WITH updates AS (
        SELECT event_type, ts,
               round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                     / count(value), 4) AS ref_value
        FROM events WHERE event_id % 97 = 0
        GROUP BY event_type, ts
    ),
    b AS (
        SELECT e.event_id, e.event_type, e.ts,
               u.ts AS bts, u.ref_value AS bval
        FROM events e
        ASOF LEFT JOIN updates u
          ON e.event_type = u.event_type AND u.ts <= e.ts
    ),
    f AS (
        SELECT e.event_id, u.ts AS fts, u.ref_value AS fval
        FROM events e
        ASOF LEFT JOIN updates u
          ON e.event_type = u.event_type AND u.ts >= e.ts
    ),
    chosen AS (
        SELECT b.event_type,
               CASE WHEN b.bts IS NULL THEN f.fval
                    WHEN f.fts IS NULL THEN b.bval
                    WHEN epoch_us(b.ts) - epoch_us(b.bts)
                         <= epoch_us(f.fts) - epoch_us(b.ts)
                    THEN b.bval ELSE f.fval END AS val,
               CASE WHEN b.bts IS NULL THEN 'fwd'
                    WHEN f.fts IS NULL THEN 'back'
                    WHEN epoch_us(b.ts) - epoch_us(b.bts)
                         <= epoch_us(f.fts) - epoch_us(b.ts)
                    THEN 'back' ELSE 'fwd' END AS side
        FROM b JOIN f USING (event_id)
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN side = 'back' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_back,
           CAST(sum(CASE WHEN side = 'fwd' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fwd,
           round(CAST(sum(CAST(val AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_ref_value
    FROM chosen GROUP BY event_type
    """,
    description="NEAREST-neighbor-in-time as-of join — the "
    "bidirectional completion of the as-of family (QuestDB/kdb's "
    "nearest form): each event takes whichever reference update is "
    "temporally CLOSEST, before or after, ties to the backward match. "
    "Composed from TWO passes of ops.relational.asof_join — backward "
    "as-is, forward by running the same union-tag + last_value window "
    "on NEGATED epoch-microseconds (time reversal turns 'following' "
    "into 'preceding', reusing one battle-tested kernel instead of a "
    "mirrored second implementation) — then an integer-microsecond "
    "distance compare picks the winner, so the choice can never flip "
    "on float rounding. Two key-shuffles total, O(L+R) each, no range "
    "explosion. Oracle: DuckDB's native ASOF in both directions with "
    "the same integer tie rule.",
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    updates = (
        ev.filter(F.col("event_id") % 97 == 0)
        .groupBy("event_type", "ts")
        .agg(stable_avg("value", 4).alias("ref_value"))
    )
    upd_b = updates.withColumn("bts", F.col("ts")).withColumnRenamed(
        "ref_value", "bval"
    )
    back = asof_join(
        ev, upd_b, keys=["event_type"], left_ts="ts", right_ts="ts",
        value_cols=["bval", "bts"],
    )
    ev_neg = back.withColumn(
        "negts", -F.unix_micros(F.col("ts").cast("timestamp"))
    )
    upd_f = (
        updates.withColumn("fts", F.col("ts"))
        .withColumnRenamed("ref_value", "fval")
        .withColumn("negts", -F.unix_micros(F.col("ts").cast("timestamp")))
        .drop("ts")
    )
    both = asof_join(
        ev_neg, upd_f, keys=["event_type"], left_ts="negts",
        right_ts="negts", value_cols=["fval", "fts"],
    )
    bd = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("bts").cast("timestamp")
    )
    fd = F.unix_micros(F.col("fts").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    take_back = F.when(F.col("bts").isNull(), F.lit(False)).otherwise(
        F.col("fts").isNull() | (bd <= fd)
    )
    chosen = both.select(
        "event_type",
        F.when(take_back, F.col("bval")).otherwise(F.col("fval")).alias(
            "val"
        ),
        F.when(take_back, F.lit("back")).otherwise(F.lit("fwd")).alias(
            "side"
        ),
    )
    return chosen.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("side") == "back", 1).otherwise(0))
        .cast("bigint")
        .alias("n_back"),
        F.sum(F.when(F.col("side") == "fwd", 1).otherwise(0))
        .cast("bigint")
        .alias("n_fwd"),
        stable_sum("val", 2).alias("total_ref_value"),
    )


@query(
    "regional_supplier_revenue",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(38,10))) AS DOUBLE), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    description="TPC-H Q5-shaped snowflake rollup — supplier revenue per "
    "region/nation — and the registry's coverage of the last three "
    "unused catalog tables (region, nation, supplier). Scale shape: the "
    "THREE-level dimension chain (supplier -> nation -> region) is "
    "collapsed into ONE broadcast dim before touching the fact table, "
    "so the lineitem scan pays a single broadcast hash join instead of "
    "three chained shuffles — the standard snowflake-collapse rewrite; "
    "revenue is the discounted-price fold through a decimal-stable "
    "sum.",
)
def regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _ts(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = _ts(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _ts(spark, sf_dir, "nation")
    reg = _ts(spark, sf_dir, "region")
    dim = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"])
        .select("s_suppkey", "n_name", "r_name")
    )
    return (
        li.join(F.broadcast(dim), li["l_suppkey"] == dim["s_suppkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
            stable_sum(
                F.expr("l_extendedprice * (1 - l_discount)"), 2
            ).alias("revenue"),
        )
    )


@query(
    "customer_top_orders_lateral",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
    ) o
    """,
    description="Correlated LATERAL subquery with ORDER BY + LIMIT — the "
    "'top 2 orders PER customer' written the way analysts write it, and "
    "the decorrelation stress-test for the optimizer: a naive engine "
    "re-executes the subquery per outer row (O(|C|·|O|)); Catalyst "
    "rewrites it into a map-side-PARTIAL WindowGroupLimit -> one "
    "shuffle on o_custkey -> final group limit -> hash join (verified "
    "via explain — each partition pre-prunes to 2 rows per key before "
    "the exchange, so the shuffle carries ~2|C| rows, not |O|). DuckDB "
    "runs the IDENTICAL lateral SQL as the oracle, so the decorrelated "
    "plan is value-locked against the literal nested-loop semantics.",
)
def customer_top_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _ts(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _ts(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    vc = _view(spark, sf_dir, "lateral_customer", cust)
    vo = _view(spark, sf_dir, "lateral_orders", orders)
    return spark.sql(
        f"""
        SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
        FROM {vc} c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM {vo}
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) o
        """
    )


@query(
    "user_sessions",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) AS TIMESTAMP) AS session_end,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM sessions GROUP BY user_id, session_id
    """,
    description="Gap-based sessionization (30-min inactivity): lag + "
    "running-sum windows sharing ONE shuffle/sort on user_id, then a "
    "per-session rollup reusing the same partitioning. The window-frame "
    "machinery (lag, ROWS UNBOUNDED PRECEDING) the reference never "
    "exercised; batch twin of the stateful streaming sessionizer.",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import sessionize

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    sessions = sessionize(ev, ["user_id"], "ts", gap="30 minutes")
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        stable_sum("value", 2).alias("total_value"),
    )


@query(
    "session_bounce_stats",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(min(ts) AS DATE) AS day
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS bounce_rate,
           round(CAST(sum(CAST(n_events AS DECIMAL(38,10))) AS DOUBLE)
                 / count(*), 4) AS avg_session_depth
    FROM per_session GROUP BY day
    """,
    description="Daily bounce rate and session depth: share of 30-min-gap "
    "sessions containing exactly ONE event, attributed to the session's "
    "start day — the engagement-health product metric sessionization "
    "exists to feed (a bounce-rate step is a landing-page or bot "
    "regression; depth is its denominator-side twin). Reuses the "
    "established sessionize machinery (lag + running-sum windows, one "
    "shuffle/sort on user_id) and rolls up to O(days) rows with a "
    "decimal-stable depth mean. Scale: identical posture to "
    "user_sessions — the per-session rollup reuses the window's "
    "partitioning; the daily agg is tiny.",
)
def session_bounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import sessionize

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    sessions = sessionize(ev, ["user_id"], "ts", gap="30 minutes")
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").cast("date").alias("day"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        F.round(bounce.cast("double") / F.count(F.lit(1)), 4).alias(
            "bounce_rate"
        ),
        F.round(
            F.sum(F.col("n_events").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_session_depth"),
    )


@query(
    "event_projection_normalize",
    oracle="""
    SELECT event_id AS id,
           CAST(user_id AS INTEGER) AS uid,
           upper(event_type) AS kind,
           CAST(round(value, 2) AS DOUBLE) AS amount,
           CAST(ts AS DATE) AS event_date
    FROM events
    """,
    description="Bronze->Silver projection normalization (P1): rename + "
    "cast + derive in one narrow select — mirrors the pools select/cast "
    "block (notebooks/03_silver_smartpool.ipynb:140-160). Column-pruned "
    "scan: ReadSchema carries only the 5 source columns.",
)
def event_projection_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("id"),
        F.col("user_id").cast("int").alias("uid"),
        F.upper("event_type").alias("kind"),
        F.round("value", 2).alias("amount"),
        F.col("ts").cast("date").alias("event_date"),
    )


# ---------------------------------------------------------------------------
# Beyond-reference OLAP surface: SURVEY §2 marks rollup/grouping sets,
# window frames (running totals) and EXCEPT as "not present" in the
# reference — a complete engine offers them, so each gets a gated query.
# ---------------------------------------------------------------------------


@query(
    "event_type_rollup",
    oracle="""
    WITH t AS (
        SELECT event_type, CAST(ts AS DATE) AS event_date, value FROM events
    )
    SELECT event_type, event_date,
           CAST(GROUPING(event_type, event_date) AS BIGINT) AS gid,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM t GROUP BY ROLLUP(event_type, event_date)
    """,
    description="ROLLUP aggregate (subtotals per event_type + grand total) "
    "with GROUPING id to distinguish rolled-up NULLs from data NULLs. "
    "Beyond the reference's surface (SURVEY §2.4 'not present'). Scale: "
    "Spark expands rollup into a single hash agg over the grouping-set "
    "union — one shuffle, map-side partial combine.",
)
def event_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        "event_type", F.col("ts").cast("date").alias("event_date"), "value"
    )
    return t.rollup("event_type", "event_date").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        stable_sum("value", 2).alias("total_value"),
    ).select("event_type", "event_date", "gid", "n_events", "total_value")


@query(
    "purchase_running_total",
    oracle="""
    SELECT user_id, event_id,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 4) AS running_value
    FROM events WHERE event_type = 'purchase'
    """,
    description="Per-user running purchase total — window frame "
    "(rowsBetween) with a deterministic (ts, event_id) total order and "
    "exact decimal accumulation, so the cumulative sum is identical under "
    "any partitioning. Beyond the reference (SURVEY §2.5 'not present'). "
    "Scale: one shuffle on user_id, per-partition sort.",
)
def purchase_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col("value").cast("decimal(38,10)")).over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.round(running.cast("double"), 4).alias("running_value"),
    )


@query(
    "active_without_purchase_last_day",
    oracle="""
    SELECT DISTINCT user_id FROM events
    WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)
    EXCEPT
    SELECT DISTINCT user_id FROM events
    WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)
      AND event_type = 'purchase'
    """,
    description="Set difference (EXCEPT): users active on the latest day "
    "minus users who purchased that day — the did-not-convert cohort. "
    "Beyond the reference (SURVEY §2.6 'not present'). Scale: the scalar "
    "max comes from a broadcast single-row aggregate; subtract plans as a "
    "left-anti hash join on user_id.",
)
def active_without_purchase_last_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    maxd = ev.agg(F.max(d).alias("maxd"))
    last_day = ev.join(F.broadcast(maxd), d == F.col("maxd"))
    actives = last_day.select("user_id").distinct()
    buyers = (
        last_day.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    return actives.subtract(buyers)


@query(
    "event_user_skew_profile",
    oracle="""
    WITH per_key AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           round(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
           round(CAST(max(cnt) AS DOUBLE) / (CAST(sum(cnt) AS DOUBLE) / count(*)), 4) AS skew_ratio
    FROM per_key
    """,
    description="Key-skew profile for a prospective shuffle key: per-key "
    "count distribution (max, p50, p99) and max/mean skew ratio — the "
    "diagnostic run BEFORE choosing salting (`salted_agg`) or trusting "
    "AQE skew-join on a 100 TB shuffle. Two hash aggs: per-key counts, "
    "then a single-row summary.",
)
def event_user_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.5D)"), 4).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.99D)"), 4).alias("p99_cnt"),
        F.round(
            F.max("cnt").cast("double")
            / (F.sum("cnt").cast("double") / F.count(F.lit(1))),
            4,
        ).alias("skew_ratio"),
    )


@query(
    "user_session_windows",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ),
    f AS (
        SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
        FROM o
    ),
    g AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM f
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM g GROUP BY user_id, sid
    """,
    description="Native session_window sessionization (gap 30 min) — "
    "Spark's built-in session-window operator, complementing the "
    "lag+running-sum `sessionize` op (same boundary semantics, verified "
    "empirically: events exactly `gap` apart MERGE; a new session opens "
    "only when the gap is strictly exceeded; window end = last event + "
    "gap). Oracle: gaps-and-islands SQL. One shuffle on the grouping "
    "key; Spark merges windows via its session-merge exec, no second "
    "window pass.",
    skip_bench=False,
)
def user_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = ev.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_sum("value", 2).alias("total_value"),
    )
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


@query(
    "orders_with_late_shipments",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
    description="Correlated EXISTS subquery (TPC-H Q4 shape, adapted to "
    "this schema's columns): orders with at least one lineitem shipped "
    ">60 days after the order date, counted per priority. Expressed as "
    "SQL EXISTS so Catalyst's decorrelation is exercised: the optimizer "
    "rewrites the correlated subquery into a LEFT SEMI hash join on "
    "l_orderkey — one shuffle, no per-row re-execution. Beyond the "
    "reference's surface (SURVEY §2.3 covers only explicit joins).",
)
def orders_with_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    vo = _view(spark, sf_dir, "q_ex_orders", _t(spark, sf_dir, "orders"))
    vl = _view(spark, sf_dir, "q_ex_lineitem", _t(spark, sf_dir, "lineitem"))
    return spark.sql(
        f"""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM {vo} o
        WHERE EXISTS (
            SELECT 1 FROM {vl} l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority
        """
    )


@query(
    "brand_small_qty_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10)))
                      AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#23'
      AND l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey
      )
    """,
    description="Scalar correlated subquery (TPC-H Q17 shape): revenue "
    "from small-quantity orders of one brand, where 'small' is relative "
    "to each part's own average quantity. Catalyst decorrelates the "
    "scalar subquery into an aggregate-then-join: per-part averages are "
    "computed once in a single hash agg and joined back — not "
    "re-evaluated per row. Exact decimal accumulation for the revenue "
    "sum. Beyond the reference's surface.",
)
def brand_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    vl = _view(spark, sf_dir, "q_sc_lineitem", _t(spark, sf_dir, "lineitem"))
    vp = _view(spark, sf_dir, "q_sc_part", _t(spark, sf_dir, "part"))
    return spark.sql(
        f"""
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10)))
                          AS DOUBLE) / 7.0, 2) AS avg_yearly
        FROM {vl}, {vp}
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#23'
          AND l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity) FROM {vl} l2
              WHERE l2.l_partkey = p_partkey
          )
        """
    )


@query(
    "event_type_hour_cube",
    oracle="""
    WITH t AS (
        SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour_of_day, value
        FROM events
    )
    SELECT event_type, hour_of_day,
           CAST(GROUPING(event_type, hour_of_day) AS BIGINT) AS gid,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM t GROUP BY CUBE(event_type, hour_of_day)
    """,
    description="CUBE aggregate over (event_type, hour-of-day): all four "
    "grouping sets — full detail, per-type, per-hour, grand total — in "
    "one pass, with GROUPING id disambiguating rolled-up NULLs. "
    "Complements the ROLLUP query (SURVEY §2.4 'not present' in the "
    "reference). Scale: Spark expands the cube into a single hash "
    "aggregate over the grouping-set union — one shuffle with map-side "
    "partial combine, rows ≈ 4× the grouping-set cardinality, not 4 "
    "passes over the input.",
)
def event_type_hour_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day"), "value"
    )
    return (
        t.cube("event_type", "hour_of_day")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("total_value"),
        )
        .select("event_type", "hour_of_day", "gid", "n_events", "total_value")
    )


@query(
    "views_before_purchase",
    oracle="""
    SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_prior_views
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 4 HOUR
     AND v.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
    description="Range join via time-bucket binning: views by the same "
    "user in the 4 hours before each purchase. A naive range join "
    "degenerates to a per-user cross product (Spark plans inequality "
    "joins as BroadcastNestedLoop); instead both sides are bucketed into "
    "bin-width = range-width epoch bins and the purchase side probes "
    "its own bin and the previous one, DEDUPED with array_distinct: "
    "for t >= W the two probes always differ ((t-W) div W = "
    "t div W - 1), but Spark's div truncates toward zero, so in the "
    "degenerate 0 < t < W region both collapse to bin 0 and an "
    "un-deduped explode would count boundary views twice (hypothesis "
    "found the falsifying case at epoch seconds < W; unreachable with "
    "real 2024 timestamps, fixed anyway). The candidate set provably "
    "covers the window, making it an EQUI-join on (user_id, bin) with "
    "the exact range applied as a post-filter. Scale: shuffle keyed on "
    "(user, bin) — candidate count is bounded by per-user-per-window "
    "activity, never |user events|².",
)
def views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = 4 * 3600  # bin width == range width (seconds)
    ev = _t(spark, sf_dir, "events")
    # integer `div`, not floor(double/W): float division at an exact bin
    # boundary could round across the boundary and void the two-bin
    # coverage guarantee
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        epoch.alias("v_epoch"),
    ).select("user_id", "vts", F.expr(f"v_epoch div {W}").alias("bin"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", epoch.alias("p_epoch")
    )
    probes = purchases.select(
        "event_id",
        "user_id",
        "ts",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"(p_epoch - {W}) div {W}"),
                    F.expr(f"p_epoch div {W}"),
                )
            )
        ).alias("bin"),
    )
    return (
        probes.join(views, ["user_id", "bin"])
        .filter(
            (F.col("vts") >= F.col("ts") - F.expr("INTERVAL 4 HOUR"))
            & (F.col("vts") < F.col("ts"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_prior_views"))
    )


@query(
    "priority_revenue_salted_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,10))) AS DOUBLE), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    description="Large-large equi-join through the explicit salted-join "
    "rewrite (ops/relational.py:salted_join): the lineitem side carries a "
    "deterministic hash salt, orders replicate once per salt value, and "
    "the join runs on (orderkey, salt) — an exact rewrite whose result "
    "is provably the unsalted join, verified here by the plain-SQL "
    "oracle. This is the manual fallback for join keys so hot that even "
    "AQE's skew-partition split leaves one reducer over memory; the "
    "deterministic salt (no rand()) keeps it replayable under task "
    "retries. Revenue per order priority downstream.",
)
def priority_revenue_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        on=["o_orderkey"],
        salt_buckets=8,
        salt_cols=["o_orderkey", "l_linenumber"],
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        stable_sum(revenue, 2).alias("revenue"),
    )


@query(
    "user_distinct_hll",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS hll_within_15pct
    FROM events GROUP BY event_type
    """,
    description="Built-in HyperLogLog++ distinct sketch "
    "(approx_count_distinct, rsd=0.05) next to the exact count, with a "
    "self-certifying error bound: hll_within_15pct asserts "
    "|approx−exact|/exact <= 0.15 per group — 3x the configured rsd, so "
    "the bound holds with ~3-sigma margin rather than the ~1-sigma "
    "coin-flip a 5% assertion would be (rsd is a standard deviation, "
    "not a guarantee), and the oracle row only matches if Spark's "
    "sketch landed inside it. Complements the KMV sketch (user_distinct_kmv), which has a "
    "full value-hash oracle — HLL++'s estimate is engine-specific, so "
    "the EXACT value can't be oracle'd across engines, but the bound "
    "can. Scale: HLL state is a fixed ~1.5 KB registers/group versus "
    "count(DISTINCT)'s per-value shuffle — the sketch is the 100 TB "
    "path; the exact count here exists to certify it.",
)
def user_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("__hll"),
    )
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("__hll") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            <= 0.15
        ).alias("hll_within_15pct"),
    )


@query(
    "event_props_parsed",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           round(CAST(sum(CAST(CAST(json_extract(props, '$.k') AS BIGINT)
                               AS DECIMAL(38,10))) AS DOUBLE)
                 / count(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
    description="Semi-structured JSON column parsed in batch: from_json "
    "with an explicit schema over the events.props payload, then "
    "aggregated — the batch twin of the streaming Kafka-JSON parse "
    "(streaming/ops.py:parse_json_payload, mirroring "
    "spark-apps/07_kafka_smartpool_sensors.py's silver step). Explicit "
    "schema matters at scale: schema_of_json/inference needs an extra "
    "pass, and a typed struct lets Catalyst prune to the single field "
    "read. JVM-side JsonToStructs — no UDF.",
)
def event_props_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        "props",
        F.from_json("props", "k BIGINT").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
        stable_avg("k", 4).alias("avg_k"),
    )


@query(
    "order_value_window_stats",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    description="Distribution-rank window functions — ntile(4), "
    "percent_rank, cume_dist — per order priority, completing the §2.5 "
    "window surface beyond row_number/rank/dense_rank. The ORDER BY "
    "includes the key (o_totalprice, o_orderkey) so ntile's positional "
    "assignment is a total order — deterministic across engines and "
    "partitionings. Scale note: these are inherently full-partition "
    "ranks, and priority is LOW cardinality, so at 100 TB each of the 5 "
    "partitions sorts serially; the scalable substitute is approximate "
    "quantile cuts joined back (the doc_token_percentiles pattern) — "
    "this query exists for exact-semantics coverage.",
    skip_bench=False,
)
def order_value_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@query(
    "repeat_purchasers_first_last_day",
    oracle="""
    SELECT DISTINCT user_id FROM events
    WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
      AND event_type = 'purchase'
    INTERSECT
    SELECT DISTINCT user_id FROM events
    WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)
      AND event_type = 'purchase'
    """,
    description="Set intersection (INTERSECT): users who purchased on "
    "BOTH the first and the last day of the data — the retained-buyer "
    "cohort. Completes the set-op family (union, EXCEPT already "
    "covered). Scale: the two scalar day bounds come from broadcast "
    "single-row aggregates; intersect plans as a left-semi hash join "
    "over the two deduplicated sides.",
)
def repeat_purchasers_first_last_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    purchases = ev.filter(F.col("event_type") == "purchase")
    bounds = ev.agg(F.min(d).alias("mind"), F.max(d).alias("maxd"))
    first_day = (
        purchases.join(F.broadcast(bounds), d == F.col("mind"))
        .select("user_id")
        .distinct()
    )
    last_day = (
        purchases.join(F.broadcast(bounds), d == F.col("maxd"))
        .select("user_id")
        .distinct()
    )
    return first_day.intersect(last_day)


@query(
    "daily_purchase_spine",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                           CAST(hi AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(CAST(value AS DECIMAL(38,10))) AS DECIMAL(38,10)) AS sv
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.day,
           coalesce(d.n_purchases, 0) AS n_purchases,
           round(CAST(coalesce(d.sv, 0) AS DOUBLE), 2) AS total_value
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    description="Date-spine zero-fill: a generated continuous day "
    "dimension (sequence + explode — no source table needed) "
    "left-joined to per-day purchase aggregates, so days with NO "
    "purchases appear as explicit zeros — the gaps a plain groupBy "
    "silently drops and every downstream time series/forecast needs. "
    "Scale: the spine is O(days) — generated on the driver-free "
    "sequence expression and broadcast; the fact side is one hash agg.",
)
def daily_purchase_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    bounds = ev.agg(F.min(d).alias("lo"), F.max(d).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(d.alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("sv"),
        )
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n_purchases", F.lit(0).cast("bigint")).alias("n_purchases"),
        F.round(
            F.coalesce(F.col("sv"), F.lit(0).cast("decimal(38,10)")).cast("double"), 2
        ).alias("total_value"),
    )


@query(
    "user_event_type_profile",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_seen,
           CAST(count(DISTINCT event_type) AS INTEGER) AS n_types,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    description="Set-valued aggregation: the distinct event types each "
    "user has produced, as a SORTED joined string — collect_set is "
    "nondeterministically ordered by partitioning, so array_sort before "
    "array_join is what makes a set-valued column comparable, hashable "
    "and testable at all. Scale: one hash agg; the per-key set is "
    "bounded by the event-type domain (5), not event count — map-side "
    "partial collect_set keeps the shuffle tiny.",
)
def user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "types_seen"
        ),
        F.size(F.collect_set("event_type")).cast("int").alias("n_types"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@query(
    "event_grouping_sets",
    oracle="""
    WITH t AS (
        SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour_of_day, value
        FROM events
    )
    SELECT event_type, hour_of_day,
           CAST(GROUPING(event_type, hour_of_day) AS BIGINT) AS gid,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS total_value
    FROM t GROUP BY GROUPING SETS ((event_type), (hour_of_day))
    """,
    description="Explicit GROUPING SETS — exactly the two marginal "
    "aggregations (per-type, per-hour), no full detail and no grand "
    "total: the shape CUBE can't express without computing the extra "
    "sets. One Expand + hash aggregate pass; when only k of 2^n sets "
    "are needed, GROUPING SETS expands to k copies of each row where "
    "CUBE expands to 2^n — at 100 TB that multiplier is the whole cost.",
)
def event_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = _view(
        spark,
        sf_dir,
        "q_gs_events",
        ev.select(
            "event_type", F.hour("ts").cast("int").alias("hour_of_day"), "value"
        ),
    )
    return spark.sql(
        f"""
        SELECT event_type, hour_of_day,
               CAST(grouping_id(event_type, hour_of_day) AS BIGINT) AS gid,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
                   AS total_value
        FROM {v} GROUP BY GROUPING SETS ((event_type), (hour_of_day))
        """
    )


@query(
    "user_first_last_events",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER w AS last_type,
           nth_value(event_type, 2) OVER w AS second_type,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    description="Window navigation functions — first_value / last_value / "
    "nth_value over the full per-user frame (the journey summary: how a "
    "user arrived, what they did second, where they ended). The frame "
    "must be explicitly UNBOUNDED FOLLOWING: the default frame stops at "
    "CURRENT ROW, silently making last_value ≡ current row — the classic "
    "window-function bug, same in every engine. Deterministic total "
    "order via (ts, event_id) tie-break. One shuffle on user_id.",
)
def user_first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wc = Window.partitionBy("user_id")
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("n_events"),
    ).distinct()


@query(
    "daily_activity_reconciliation",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    o AS (
        SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT coalesce(e.day, o.day) AS day,
           coalesce(e.n_events, 0) AS n_events,
           coalesce(o.n_orders, 0) AS n_orders,
           CASE WHEN e.day IS NULL THEN 'orders_only'
                WHEN o.day IS NULL THEN 'events_only'
                ELSE 'both' END AS presence
    FROM e FULL OUTER JOIN o ON e.day = o.day
    """,
    description="FULL OUTER join — the reconciliation shape: daily event "
    "counts against daily order counts, keeping days present on either "
    "side only, labeled. Completes the join-type family (inner/left/"
    "semi/anti/as-of/range/stream-stream already gated). Scale: both "
    "sides pre-aggregate to one row per day BEFORE the join, so the "
    "full-outer shuffle carries O(days) rows, not the fact tables. "
    "This is the registry's one SortMergeJoin — Spark's only full-outer "
    "strategy (broadcast hash join cannot preserve both sides) — and "
    "it sorts O(days) rows, which is immaterial at any scale.",
)
def daily_activity_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    e, o = ev.alias("e"), orders.alias("o")
    joined = e.join(o, F.col("e.day") == F.col("o.day"), "full_outer")
    return joined.select(
        F.coalesce(F.col("e.day"), F.col("o.day")).alias("day"),
        F.coalesce("n_events", F.lit(0).cast("bigint")).alias("n_events"),
        F.coalesce("n_orders", F.lit(0).cast("bigint")).alias("n_orders"),
        F.when(F.col("e.day").isNull(), "orders_only")
        .when(F.col("o.day").isNull(), "events_only")
        .otherwise("both")
        .alias("presence"),
    )


@query(
    "lineitem_measures_unpivot",
    oracle="""
    WITH long AS (
        SELECT 'quantity' AS measure, l_quantity AS amount FROM lineitem
        UNION ALL
        SELECT 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT 'tax', l_tax FROM lineitem
    )
    SELECT measure,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(amount AS DECIMAL(38,10))) AS DOUBLE), 2) AS total
    FROM long GROUP BY measure
    """,
    description="Unpivot / melt (DataFrame.unpivot, wide->long): four "
    "lineitem measures become (measure, amount) rows, then aggregate "
    "per measure. The oracle uses the dialect-safe UNION ALL expansion "
    "— semantically what unpivot plans (an Expand node, one scan, rows "
    "x measures; NOT four scans). Long form is what generic per-metric "
    "pipelines (profiling, drift detection) consume.",
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="amount",
    ).withColumn(
        "measure", F.expr("substring(measure, 3)")  # l_quantity -> quantity
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        stable_sum("amount", 2).alias("total"),
    )


@query(
    "event_value_histogram",
    oracle="""
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           round(CAST(floor(value / 50.0) AS BIGINT) * 50.0, 1) AS lo,
           round((CAST(floor(value / 50.0) AS BIGINT) + 1) * 50.0, 1) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
    description="Fixed-width histogram (bucket = floor(value/width)) — "
    "the profiling primitive behind drift detection and range checks. "
    "One hash agg over O(buckets) groups; the bucket arithmetic is a "
    "single double divide + floor, identical in every IEEE engine, so "
    "bucket membership is deterministic cross-engine (unlike "
    "width_bucket variants with engine-specific edge handling).",
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.floor(F.col("value") / 50.0).cast("bigint")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "bucket",
            F.round(F.col("bucket") * 50.0, 1).alias("lo"),
            F.round((F.col("bucket") + 1) * 50.0, 1).alias("hi"),
            "n",
        )
    )


@query(
    "event_value_dispersion",
    oracle="""
    WITH t AS (
        SELECT event_type, value,
               CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS DOUBLE) AS k
        FROM events WHERE value IS NOT NULL
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sx,
               CAST(sum(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(k AS DECIMAL(38,10))) AS DOUBLE) AS sy,
               CAST(sum(CAST(k * k AS DECIMAL(38,10))) AS DOUBLE) AS syy,
               CAST(sum(CAST(value * k AS DECIMAL(38,10))) AS DOUBLE) AS sxy
        FROM t GROUP BY event_type
    )
    SELECT event_type, n,
           round(sx / n, 4) AS mean_value,
           round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 4) AS stddev_value,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS corr_value_k
    FROM s
    """,
    description="Deterministic dispersion statistics: sample stddev and "
    "Pearson correlation computed from exact DECIMAL power sums "
    "(Σx, Σx², Σy, Σy², Σxy) cast to double once, with a fixed "
    "expression shape — NOT the built-in stddev/corr aggregates, whose "
    "streaming update/merge order makes the low-order bits "
    "partitioning-dependent and engine-specific. Same single-pass "
    "hash-agg cost (the sums all fold map-side); bit-identical result "
    "under any partitioning, property the decimal-stable sums already "
    "guarantee. Correlates value with the props JSON payload's k.",
)
def event_value_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t = ev.select(
        "event_type",
        "value",
        F.from_json("props", "k BIGINT").getField("k").cast("double").alias("k"),
    )

    def dsum(e):
        return F.sum(e.cast("decimal(38,10)")).cast("double")

    s = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("value")).alias("sx"),
        dsum(F.col("value") * F.col("value")).alias("sxx"),
        dsum(F.col("k")).alias("sy"),
        dsum(F.col("k") * F.col("k")).alias("syy"),
        dsum(F.col("value") * F.col("k")).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    return s.select(
        "event_type",
        "n",
        F.round(sx / n, 4).alias("mean_value"),
        F.round(F.sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 4).alias(
            "stddev_value"
        ),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            4,
        ).alias("corr_value_k"),
    )


@query(
    "user_daily_value_interpolated",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
    ),
    days AS (
        SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                           CAST(hi AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                     / count(value), 4) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, CAST(ts AS DATE)
    ),
    grid AS (
        SELECT u.user_id, d.day, daily.v
        FROM users u CROSS JOIN days d
        LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day
    ),
    filled AS (
        SELECT user_id, day, v,
               last_value(v IGNORE NULLS) OVER w_ff AS ff_v,
               last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
                   OVER w_ff AS ff_day,
               first_value(v IGNORE NULLS) OVER w_bf AS bf_v,
               first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
                   OVER w_bf AS bf_day
        FROM grid
        WINDOW w_ff AS (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_bf AS (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           round(CASE
               WHEN v IS NOT NULL THEN v
               WHEN ff_v IS NOT NULL AND bf_v IS NOT NULL THEN
                   ff_v + (bf_v - ff_v)
                        * (CAST(date_diff('day', ff_day, day) AS DOUBLE)
                           / CAST(date_diff('day', ff_day, bf_day) AS DOUBLE))
               WHEN ff_v IS NOT NULL THEN ff_v
               ELSE bf_v
           END, 4) AS value_filled,
           CASE WHEN v IS NOT NULL THEN 'observed'
                WHEN ff_v IS NOT NULL AND bf_v IS NOT NULL THEN 'interpolated'
                WHEN ff_v IS NOT NULL THEN 'ffill'
                WHEN bf_v IS NOT NULL THEN 'bfill'
                ELSE 'empty' END AS fill_kind
    FROM filled
    """,
    description="Time-series gap fill with linear interpolation: each "
    "user's daily purchase average on a continuous day grid — observed "
    "days pass through, interior gaps interpolate linearly between the "
    "surrounding observations (weighted by day distance), leading/"
    "trailing gaps back-/forward-fill, labeled per row. Built from "
    "last_value/first_value IGNORE NULLS over per-user day order — one "
    "shuffle on user_id. Scale: the grid is |cohort| × |days| — bound "
    "the cohort (here: users present in events) and the window, as any "
    "TS completion must; inputs are rounded BEFORE interpolating so the "
    "arithmetic is cross-engine exact.",
)
def user_daily_value_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    bounds = ev.agg(F.min(d).alias("lo"), F.max(d).alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    users = ev.select("user_id").distinct()
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", d.alias("day"))
        .agg(stable_avg("value", 4).alias("v"))
    )
    grid = users.crossJoin(F.broadcast(days)).join(daily, ["user_id", "day"], "left")
    w_ff = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nn_day = F.when(F.col("v").isNotNull(), F.col("day"))
    filled = grid.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_ff).alias("ff_v"),
        F.last(nn_day, ignorenulls=True).over(w_ff).alias("ff_day"),
        F.first("v", ignorenulls=True).over(w_bf).alias("bf_v"),
        F.first(nn_day, ignorenulls=True).over(w_bf).alias("bf_day"),
    )
    interp = F.col("ff_v") + (F.col("bf_v") - F.col("ff_v")) * (
        F.datediff("day", "ff_day").cast("double")
        / F.datediff("bf_day", "ff_day").cast("double")
    )
    value_filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("ff_v").isNotNull() & F.col("bf_v").isNotNull(), interp)
        .when(F.col("ff_v").isNotNull(), F.col("ff_v"))
        .otherwise(F.col("bf_v"))
    )
    fill_kind = (
        F.when(F.col("v").isNotNull(), "observed")
        .when(F.col("ff_v").isNotNull() & F.col("bf_v").isNotNull(), "interpolated")
        .when(F.col("ff_v").isNotNull(), "ffill")
        .when(F.col("bf_v").isNotNull(), "bfill")
        .otherwise("empty")
    )
    return filled.select(
        "user_id",
        "day",
        F.round(value_filled, 4).alias("value_filled"),
        fill_kind.alias("fill_kind"),
    )


@query(
    "daily_event_anomalies",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    trail AS (
        SELECT event_type, day, n,
               CAST(count(*) OVER w AS BIGINT) AS n_prior,
               CAST(sum(CAST(n AS DECIMAL(38,10))) OVER w AS DOUBLE) AS sx,
               CAST(sum(CAST(CAST(n AS DOUBLE) * n AS DECIMAL(38,10))) OVER w
                    AS DOUBLE) AS sxx
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, n,
           round(sx / n_prior, 4) AS trailing_mean,
           round(sqrt(greatest(sxx / n_prior - (sx / n_prior) * (sx / n_prior),
                               0.0)), 4) AS trailing_std,
           CAST(abs(n - sx / n_prior) >
                3.0 * sqrt(greatest(sxx / n_prior - (sx / n_prior) * (sx / n_prior),
                                    0.0)) AS BOOLEAN) AS is_anomaly
    FROM trail WHERE n_prior = 7
    """,
    description="Trailing-window anomaly detection: each day's event "
    "count per type against the mean and population σ of the previous 7 "
    "days, flagged at 3σ — the monitoring primitive behind volume-drop/"
    "spike alerts. The moving-frame sums go through exact DECIMAL so "
    "the result is independent of how either engine associates the "
    "frame arithmetic (segment trees vs running sums — the hidden "
    "cross-engine trap in moving-window floats). One shuffle on "
    "event_type; emits only days with a full 7-day history.",
)
def daily_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    trailing = daily.select(
        "event_type",
        "day",
        "n",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_prior"),
        F.sum(F.col("n").cast("decimal(38,10)")).over(w).cast("double").alias("sx"),
        F.sum((F.col("n").cast("double") * F.col("n")).cast("decimal(38,10)"))
        .over(w)
        .cast("double")
        .alias("sxx"),
    )
    mean = F.col("sx") / F.col("n_prior")
    var = F.greatest(
        F.col("sxx") / F.col("n_prior") - mean * mean, F.lit(0.0)
    )
    return trailing.filter(F.col("n_prior") == 7).select(
        "event_type",
        "day",
        "n",
        F.round(mean, 4).alias("trailing_mean"),
        F.round(F.sqrt(var), 4).alias("trailing_std"),
        (F.abs(F.col("n") - mean) > 3.0 * F.sqrt(var)).alias("is_anomaly"),
    )


@query(
    "conversion_funnel",
    oracle="""
    WITH steps AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT day,
           CAST(sum(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_viewed,
           CAST(sum(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
           CAST(sum(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                              AND first_purchase > first_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
    FROM steps GROUP BY day
    """,
    description="Ordered conversion funnel (view -> click -> purchase "
    "within a user-day): per-step first-occurrence timestamps from ONE "
    "conditional aggregation, then ordering predicates — the sequence "
    "pattern expressed as a single hash agg instead of 3 self-joins "
    "(which at 100 TB would be three shuffles of the fact table; this "
    "is one). NULL comparisons make 'never did the step' fall out of "
    "the > predicates naturally.",
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    steps = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    viewed = F.col("first_view").isNotNull()
    clicked = viewed & (F.col("first_click") > F.col("first_view"))
    purchased = clicked & (F.col("first_purchase") > F.col("first_click"))
    return steps.groupBy("day").agg(
        F.sum(F.when(viewed, 1).otherwise(0)).cast("bigint").alias("n_viewed"),
        F.sum(F.when(clicked, 1).otherwise(0))
        .cast("bigint")
        .alias("n_clicked_after_view"),
        F.sum(F.when(purchased, 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchased_after_click"),
    )


@query(
    "event_value_winsorized",
    oracle="""
    WITH cuts AS (
        SELECT event_type,
               round(quantile_cont(value, 0.05), 4) AS p05,
               round(quantile_cont(value, 0.95), 4) AS p95
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    clamped AS (
        SELECT e.event_type, c.p05, c.p95,
               least(greatest(e.value, c.p05), c.p95) AS v
        FROM events e JOIN cuts c USING (event_type)
        WHERE e.value IS NOT NULL
    )
    SELECT event_type, p05, p95,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(v), 4)
               AS winsorized_mean
    FROM clamped GROUP BY event_type, p05, p95
    """,
    description="Winsorized aggregation (outlier-robust curation): "
    "per-type p05/p95 exact quantiles (rounded, bit-matched across "
    "engines), values clamped into [p05, p95], then an exact-decimal "
    "mean — the robust-statistics step quality pipelines run before "
    "thresholding on means that outliers would drag. Two passes by "
    "necessity (quantiles, then clamp): the cuts side is O(groups) and "
    "broadcast back, so the second pass is scan + broadcast join, no "
    "extra fact shuffle. At 100 TB swap exact quantile_cont for "
    "approx_percentile, same shape.",
)
def event_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cuts = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05D)"), 4).alias("p05"),
        F.round(F.expr("percentile(value, 0.95D)"), 4).alias("p95"),
    )
    clamped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "p05",
        "p95",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("v"),
    )
    return clamped.groupBy("event_type", "p05", "p95").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        stable_avg("v", 4).alias("winsorized_mean"),
    )


@query(
    "user_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events
        GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    sizes AS (
        SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
        FROM firsts GROUP BY cohort_day
    )
    SELECT a.cohort_day, CAST(a.day_offset AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           s.cohort_size,
           round(CAST(count(*) AS DOUBLE) / s.cohort_size, 4) AS retention
    FROM activity a JOIN sizes s ON a.cohort_day = s.cohort_day
    WHERE a.day_offset <= 14
    GROUP BY a.cohort_day, a.day_offset, s.cohort_size
    """,
    description="Retention cohort analysis: users grouped by first-seen "
    "day, activity tracked as distinct (user, day-offset) pairs, "
    "retention = active/cohort-size per offset up to day 14 — the "
    "product-analytics table every growth dashboard is built on. "
    "Shape: one agg for cohort assignment (min per user), the "
    "assignment joined back (at 100 TB the firsts table is "
    "O(users) — bucket or broadcast by tier), then distinct + agg.",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(d).alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(d, F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return (
        activity.filter(F.col("day_offset") <= 14)
        .groupBy("cohort_day", F.col("day_offset").cast("bigint").alias("day_offset"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 4
            ).alias("retention"),
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    pairs AS (
        SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    totals AS (SELECT cur, sum(n) AS total FROM pairs GROUP BY cur)
    SELECT p.cur, p.nxt, p.n,
           round(CAST(p.n AS DOUBLE) / t.total, 4) AS p_next
    FROM pairs p JOIN totals t ON p.cur = t.cur
    """,
    description="Event-transition matrix (first-order Markov estimate): "
    "for each user's chronologically ordered events, count cur->next "
    "pairs via lead() over a deterministic (ts, event_id) total order, "
    "then normalize per source state — the sequence-mining primitive "
    "behind next-action prediction and funnel-drop diagnosis. One "
    "shuffle on user_id for the window, one tiny agg on (cur, nxt) — "
    "5x5 output regardless of input size.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("total"))
    return pairs.join(totals, "cur").select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 4).alias("p_next"),
    )


_BLOOM_M = 16384  # bits
_BLOOM_K = 3      # hash functions


def _bloom_oracle() -> str:
    from smartpool_bigdata_spark.ops.text import duck_hash64

    dim_pos = duck_hash64(
        "(CAST(j.j AS VARCHAR) || '|' || CAST(c_custkey AS VARCHAR))"
    )
    probe_pos = duck_hash64(
        "(CAST(j.j AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR))"
    )
    return f"""
    WITH dim AS (
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    ),
    bits AS (
        SELECT DISTINCT
               {dim_pos} % {_BLOOM_M} AS pos
        FROM dim, range(0, {_BLOOM_K}) AS j(j)
    ),
    probes AS (
        SELECT o_orderkey, o_custkey, o_totalprice, j.j AS j,
               {probe_pos} % {_BLOOM_M} AS pos
        FROM orders, range(0, {_BLOOM_K}) AS j(j)
    ),
    pass AS (
        SELECT o_orderkey, max(o_custkey) AS o_custkey,
               max(o_totalprice) AS o_totalprice
        FROM probes JOIN bits USING (pos)
        GROUP BY o_orderkey
        HAVING count(DISTINCT j) = {_BLOOM_K}
    ),
    truth AS (
        SELECT p.o_orderkey, p.o_totalprice,
               CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_match
        FROM pass p LEFT JOIN dim d ON p.o_custkey = d.c_custkey
    )
    SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
           CAST((SELECT count(*) FROM dim) AS BIGINT) AS n_dim_keys,
           CAST(count(*) AS BIGINT) AS n_bloom_pass,
           CAST(sum(is_match) AS BIGINT) AS n_exact_match,
           CAST(count(*) - sum(is_match) AS BIGINT) AS n_false_positives,
           round((count(*) - sum(is_match))
                 / CAST((SELECT count(*) FROM orders) AS DOUBLE), 4)
               AS fp_rate,
           round(CAST(sum(CASE WHEN is_match = 1
                          THEN CAST(o_totalprice AS DECIMAL(38,10))
                          ELSE 0 END) AS DOUBLE), 2) AS matched_price
    FROM truth
    """


@query(
    "orders_bloom_prefilter",
    oracle=_bloom_oracle(),
    description="Bloom-filter semi-join prefilter — the runtime-filter / "
    "bloom-pushdown pattern made explicit and value-locked: a "
    f"{_BLOOM_M}-bit, k={_BLOOM_K} Bloom filter is built over the "
    "selective dim side (customers with c_acctbal > 9000) as a DISTINCT "
    "set-bit frame (<= min(m, k·|dim|) rows — broadcastable at any fact "
    "size), orders probe it map-side (all k positions present = pass), "
    "and the exact semi-join then audits the pass set — so the FALSE-"
    "POSITIVE count and rate are explicit output columns, locked by the "
    "value hash (Bloom guarantees no false negatives; the oracle's "
    "exact-match count equals the unfiltered semi-join's). Deterministic "
    "md5 bit positions, so DuckDB rebuilds the filter bit-for-bit. At "
    "100 TB this is the shape that turns a fact-dim join into a scan-"
    "side prefilter (Spark's own runtime row-group filtering, made "
    "inspectable); the bit frame is mergeable by union.",
)
def orders_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.ops.text import spark_hash64

    orders = _ts(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dim = _ts(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000
    ).select("c_custkey")
    js = F.explode(F.expr(f"sequence(0, {_BLOOM_K - 1})")).alias("j")
    bits = (
        dim.select("c_custkey", js)
        .select(
            F.expr(
                spark_hash64(
                    "concat(cast(j as string), '|', cast(c_custkey as string))"
                )
                + f" % {_BLOOM_M}"
            ).alias("pos")
        )
        .distinct()
    )
    probes = orders.select("o_orderkey", "o_custkey", "o_totalprice", js).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "j",
        F.expr(
            spark_hash64(
                "concat(cast(j as string), '|', cast(o_custkey as string))"
            )
            + f" % {_BLOOM_M}"
        ).alias("pos"),
    )
    passed = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("o_orderkey")
        .agg(
            F.max("o_custkey").alias("o_custkey"),
            F.max("o_totalprice").alias("o_totalprice"),
            F.countDistinct("j").alias("kj"),
        )
        .filter(F.col("kj") == _BLOOM_K)
    )
    truth = passed.join(
        F.broadcast(dim), passed["o_custkey"] == dim["c_custkey"], "left"
    ).select(
        "o_totalprice",
        F.when(F.col("c_custkey").isNotNull(), 1).otherwise(0).alias("is_match"),
    )
    n_orders = orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    n_dim = dim.agg(F.count(F.lit(1)).cast("bigint").alias("n_dim_keys"))
    agg = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bloom_pass"),
        F.sum("is_match").cast("bigint").alias("n_exact_match"),
        stable_sum(
            F.when(F.col("is_match") == 1, F.col("o_totalprice")).otherwise(0.0),
            2,
        ).alias("matched_price"),
    )
    return (
        n_orders.crossJoin(F.broadcast(n_dim))
        .crossJoin(F.broadcast(agg))
        .select(
            "n_orders",
            "n_dim_keys",
            "n_bloom_pass",
            "n_exact_match",
            (F.col("n_bloom_pass") - F.col("n_exact_match"))
            .cast("bigint")
            .alias("n_false_positives"),
            F.round(
                (F.col("n_bloom_pass") - F.col("n_exact_match"))
                / F.col("n_orders").cast("double"),
                4,
            ).alias("fp_rate"),
            "matched_price",
        )
    )



def _pagerank_oracle(iterations: int = 5) -> str:
    """Chained-CTE twin of ops.graph.pagerank over the purchase graph:
    one CTE per power iteration, decimal(38,18)-stable contribution
    sums, identical IEEE derivation for every scalar — see the op
    docstring for the determinism argument."""
    d = "CAST(0.85 AS DOUBLE)"
    base = f"(CAST(1 AS DOUBLE) - {d}) / nn.n"
    ctes = [
        """raw AS (
        SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )""",
        """sym AS (
        SELECT a, b FROM raw UNION SELECT b AS a, a AS b FROM raw
    )""",
        """deg AS (SELECT a, count(*) AS deg FROM sym GROUP BY a)""",
        """w AS (
        SELECT s.a, s.b, CAST(1 AS DOUBLE) / CAST(d.deg AS DOUBLE) AS w
        FROM sym s JOIN deg d ON d.a = s.a
    )""",
        """nn AS (SELECT count(*) AS n FROM deg)""",
        """r0 AS (
        SELECT a AS node, CAST(1 AS DOUBLE) / nn.n AS rank FROM deg, nn
    )""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""r{i} AS (
        SELECT w.b AS node,
               {base} + {d} * CAST(sum(
                   CAST(r{i-1}.rank * w.w AS DECIMAL(38,18))
               ) AS DOUBLE) AS rank
        FROM w JOIN r{i-1} ON w.a = r{i-1}.node, nn
        GROUP BY w.b, nn.n
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node, round(rank, 9) AS rank FROM r{iterations}
    """


@query(
    "purchase_graph_pagerank",
    oracle=_pagerank_oracle(),
    description="Fixed-budget (5-iteration) PageRank over the symmetrized "
    "customer-supplier purchase graph (distinct lineitem-orders pairs, "
    "supplier ids offset into their own range) - the canonical iterative "
    "graph workload beside the CC family, and the first one with a FULL "
    "value-hash oracle: a fixed iteration count makes the result a pure "
    "function of the input, replayed in DuckDB as one CTE per power "
    "iteration. Cross-engine float determinism via decimal(38,18)-stable "
    "contribution sums; symmetrization removes dangling-sink mass by "
    "construction. Plan: weighted edges built once (localCheckpoint cuts "
    "loop lineage), each iteration = one join + one groupBy-sum - two "
    "key-shuffles, rank vector O(nodes), never collected.",
)
def purchase_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, iterations=5)
    return pr.select("node", F.round("rank", 9).alias("rank"))


def _ppr_oracle(iterations: int = 3) -> str:
    """Chained-CTE twin of ops.graph.personalized_pagerank over the
    purchase graph with BUILDING-segment customers as the seed set —
    same decimal(38,18)-stable sums as _pagerank_oracle, but the
    restart mass unions O(seeds) base rows into each iteration's
    aggregate instead of a uniform base term."""
    d = "CAST(0.85 AS DOUBLE)"
    ctes = [
        """raw AS (
        SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )""",
        """sym AS (
        SELECT a, b FROM raw UNION SELECT b AS a, a AS b FROM raw
    )""",
        """deg AS (SELECT a, count(*) AS deg FROM sym GROUP BY a)""",
        """w AS (
        SELECT s.a, s.b, CAST(1 AS DOUBLE) / CAST(d.deg AS DOUBLE) AS w
        FROM sym s JOIN deg d ON d.a = s.a
    )""",
        """seeds AS (
        SELECT DISTINCT c_custkey AS node FROM customer
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey IN (SELECT a FROM deg)
    )""",
        """ns AS (SELECT count(*) AS n FROM seeds)""",
        """r0 AS (
        SELECT node, CAST(1 AS DOUBLE) / ns.n AS rank FROM seeds, ns
    )""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""r{i} AS (
        SELECT node, CAST(sum(CAST(val AS DECIMAL(38,18))) AS DOUBLE) AS rank
        FROM (
            SELECT w.b AS node,
                   {d} * CAST(sum(
                       CAST(r{i-1}.rank * w.w AS DECIMAL(38,18))
                   ) AS DOUBLE) AS val
            FROM w JOIN r{i-1} ON w.a = r{i-1}.node
            GROUP BY w.b
            UNION ALL
            SELECT node, (CAST(1 AS DOUBLE) - {d}) / ns.n AS val
            FROM seeds, ns
        ) GROUP BY node
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT CAST(node - 1000000 AS BIGINT) AS s_suppkey,
           round(rank, 9) AS affinity
    FROM r{iterations} WHERE node > 1000000
    """


@query(
    "segment_supplier_affinity_ppr",
    oracle=_ppr_oracle(),
    description="Personalized PageRank (3 fixed iterations, restart on "
    "the BUILDING-segment customers) over the symmetrized purchase "
    "graph: each supplier's rank becomes its affinity to that customer "
    "segment — the related-entities / recommendation primitive the "
    "uniform-restart pagerank can't express. Sparse by construction: "
    "the rank vector starts at the O(seeds) rows and grows one hop per "
    "iteration; restart mass folds in via UNION + one groupBy-sum (no "
    "outer join). Same fixed-budget full-value oracle and "
    "decimal(38,18)-stable float determinism as purchase_graph_pagerank.",
)
def segment_supplier_affinity_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import personalized_pagerank

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    pr = personalized_pagerank(edges, seeds, iterations=3)
    return pr.filter(F.col("node") > 1_000_000).select(
        (F.col("node") - 1_000_000).cast("bigint").alias("s_suppkey"),
        F.round("rank", 9).alias("affinity"),
    )


@query(
    "session_path_trigrams",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_type, ts, event_id,
               sum(new_session) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS session_id
        FROM flagged
    ),
    lists AS (
        SELECT user_id, session_id,
               list(event_type ORDER BY ts, event_id) AS t
        FROM sess GROUP BY 1, 2
    ),
    tris AS (
        SELECT u.tri FROM lists,
        unnest(list_transform(range(1, len(t) - 1),
               i -> t[i] || '>' || t[i+1] || '>' || t[i+2])) AS u(tri)
        WHERE len(t) >= 3
    )
    SELECT tri AS path, count(*) AS n_occurrences
    FROM tris GROUP BY tri
    ORDER BY n_occurrences DESC, path ASC LIMIT 20
    """,
    description="SEQUENTIAL PATTERN MINING over sessionized behavior: "
    "the top-20 most common 3-step event-type paths within a 30-minute "
    "session — the order-2 sequence analytic the order-1 transition "
    "matrix can't see (view>view>purchase vs purchase>view>view are "
    "different journeys with identical transition counts). Per "
    "session, events sort by (ts, event_id) — a total order, so the "
    "trigram multiset is a pure function of the input — then trigrams "
    "are one row-local transform+explode off the collected type array "
    "and the count is a hash agg with TakeOrdered top-20 "
    "(count DESC, path ASC tie-break, deterministic at the limit "
    "boundary). One user_id shuffle for sessionization reused by the "
    "per-session collect; per-session arrays are session-sized, never "
    "user-history-sized.",
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import sessionize

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    sessions = sessionize(ev, ["user_id"], "ts", gap="30 minutes")
    lists = sessions.groupBy("user_id", "session_id").agg(
        F.expr(
            "transform(array_sort(collect_list("
            "struct(ts, event_id, event_type))), e -> e.event_type)"
        ).alias("t")
    )
    tris = lists.filter(F.expr("size(t) >= 3")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2), i -> "
                "concat_ws('>', element_at(t, i), element_at(t, i + 1), "
                "element_at(t, i + 2)))"
            )
        ).alias("path")
    )
    return (
        tris.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(20)
    )


@query(
    "segment_reach_bfs",
    oracle="""
    WITH RECURSIVE raw AS (
        SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    sym AS (SELECT a, b FROM raw UNION SELECT b AS a, a AS b FROM raw),
    seeds AS (
        SELECT DISTINCT c_custkey AS node FROM customer
        WHERE c_mktsegment = 'AUTOMOBILE'
    ),
    bfs(node, hop) AS (
        SELECT node, 0 AS hop FROM seeds
        UNION
        SELECT s.b AS node, bfs.hop + 1 AS hop
        FROM bfs JOIN sym s ON s.a = bfs.node
        WHERE bfs.hop < 4
    ),
    dist AS (SELECT node, min(hop) AS hop FROM bfs GROUP BY node)
    SELECT hop,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN node > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_suppliers,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM dist GROUP BY hop
    """,
    description="Multi-source BFS hop distance (bounded blast radius) "
    "from the AUTOMOBILE-segment customers over the symmetrized "
    "purchase graph — the reachability primitive the rank family can't "
    "express: PageRank says how much influence flows, BFS says how FAR "
    "every node is from the seed set. Spark plan: ops.graph.bfs_hops "
    "Pregel-style frontier expansion (per hop: one edge join + one "
    "distinct + one anti-join vs visited, all hash shuffles, "
    "localCheckpoint-cut lineage, isEmpty early-stop). Integer-only "
    "semantics make it a pure function of the input, so the oracle is "
    "DuckDB's native WITH RECURSIVE with min-hop dedup — the registry's "
    "first recursive-CTE-locked query. The per-hop sum(node) checksum "
    "locks the exact membership partition, not just layer sizes.",
)
def segment_reach_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import bfs_hops

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select(F.col("c_custkey").alias("node"))
    )
    dist = bfs_hops(edges, seeds, max_hops=4)
    return dist.groupBy("hop").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.when(F.col("node") > 1_000_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppliers"),
        F.sum("node").cast("bigint").alias("node_checksum"),
    )


def _hits_oracle(iterations: int = 3) -> str:
    """Chained-CTE twin of ops.graph.hits on the directed purchase
    graph (customer -> supplier): per iteration, a decimal(38,18)-stable
    hub-sum into each authority, an L1 scalar divide, then the mirror
    step back into hubs — the same fixed-budget full-value-oracle
    pattern as _pagerank_oracle."""
    ctes = [
        """raw AS (
        SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )""",
        """ns AS (SELECT count(DISTINCT a) AS n FROM raw)""",
        """h0 AS (
        SELECT DISTINCT a AS node, CAST(1 AS DOUBLE) / ns.n AS hub
        FROM raw, ns
    )""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""ar{i} AS (
        SELECT r.b AS node,
               CAST(sum(CAST(h{i-1}.hub AS DECIMAL(38,18))) AS DOUBLE) AS auth
        FROM raw r JOIN h{i-1} ON r.a = h{i-1}.node GROUP BY r.b
    )""")
        ctes.append(f"""a{i} AS (
        SELECT node, auth / (
            SELECT CAST(sum(CAST(auth AS DECIMAL(38,18))) AS DOUBLE)
            FROM ar{i}
        ) AS auth FROM ar{i}
    )""")
        ctes.append(f"""hr{i} AS (
        SELECT r.a AS node,
               CAST(sum(CAST(a{i}.auth AS DECIMAL(38,18))) AS DOUBLE) AS hub
        FROM raw r JOIN a{i} ON r.b = a{i}.node GROUP BY r.a
    )""")
        ctes.append(f"""h{i} AS (
        SELECT node, hub / (
            SELECT CAST(sum(CAST(hub AS DECIMAL(38,18))) AS DOUBLE)
            FROM hr{i}
        ) AS hub FROM hr{i}
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT 'hub' AS role, CAST(node AS BIGINT) AS entity,
           round(hub, 9) AS score
    FROM h{iterations}
    UNION ALL
    SELECT 'auth' AS role, CAST(node - 1000000 AS BIGINT) AS entity,
           round(auth, 9) AS score
    FROM a{iterations}
    """


@query(
    "purchase_graph_hits",
    oracle=_hits_oracle(),
    description="HITS hubs & authorities (3 fixed iterations, L1 "
    "normalization) over the DIRECTED customer->supplier purchase "
    "graph: customers score as hubs (breadth of strong suppliers "
    "bought from), suppliers as authorities (mass of strong buyers) — "
    "the mutually-recursive centrality the symmetric PageRank family "
    "can't express, and the natural two-sided marketplace ranking. L1 "
    "instead of L2 normalization keeps every step sqrt-free (join + "
    "decimal(38,18)-stable sum + one double divide), so the full hub "
    "AND authority vectors are value-locked by a chained-CTE oracle; "
    "ranking order is identical to classic L2 HITS. Plan per "
    "half-iteration: one vector->edges equi-join + one groupBy-sum "
    "(two key shuffles) + a ONE-ROW broadcast crossJoin for the "
    "scalar divide; lineage localCheckpoint-cut per iteration.",
)
def purchase_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import hits

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    hubs, auths = hits(edges, iterations=3)
    return hubs.select(
        F.lit("hub").alias("role"),
        F.col("node").cast("bigint").alias("entity"),
        F.round("hub", 9).alias("score"),
    ).unionAll(
        auths.select(
            F.lit("auth").alias("role"),
            (F.col("node") - 1_000_000).cast("bigint").alias("entity"),
            F.round("auth", 9).alias("score"),
        )
    )


def _densest_oracle(eps_num: int = 22, eps_den: int = 10, rounds: int = 12) -> str:
    """Chained materialized-CTE twin of
    ops.graph.densest_subgraph_trajectory on the symmetrized purchase
    graph — per round one degree CTE, one 1-row stats CTE, one
    integer-exact keep filter, one both-endpoints edge filter."""
    ctes = [
        """raw AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )""",
        """g0 AS MATERIALIZED (
        SELECT a, b FROM raw UNION SELECT b AS a, a AS b FROM raw
    )""",
    ]
    selects = []
    for i in range(1, rounds + 1):
        ctes.append(f"""deg{i} AS MATERIALIZED (
        SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
        FROM g{i-1} GROUP BY a
    )""")
        ctes.append(f"""st{i} AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(coalesce(sum(deg), 0) AS BIGINT) AS m2
        FROM deg{i}
    )""")
        ctes.append(f"""keep{i} AS MATERIALIZED (
        SELECT d.node FROM deg{i} d, st{i} s
        WHERE 2 * {eps_den} * d.deg * s.n > {eps_num} * s.m2
    )""")
        ctes.append(f"""g{i} AS MATERIALIZED (
        SELECT g.a, g.b FROM g{i-1} g
        JOIN keep{i} x ON g.a = x.node
        JOIN keep{i} y ON g.b = y.node
    )""")
        selects.append(
            f"""SELECT {i} AS round, n AS n_nodes, m2 AS sym_degree_sum,
            round(CAST(m2 AS DOUBLE) / (2 * n), 6) AS density
            FROM st{i} WHERE n > 0"""
        )
    joined = ",\n    ".join(ctes)
    unions = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH {joined}
    {unions}
    """


@query(
    "purchase_graph_densest",
    oracle=_densest_oracle(),
    description="Greedy DENSEST-SUBGRAPH peeling (Bahmani/Kumar/"
    "Vassilvitskii VLDB'12, the MapReduce 2(1+eps)-approximation of "
    "Charikar's greedy, eps=0.1): each round bulk-deletes every node "
    "with degree <= 2.2x the current average — the parallelizable "
    "form of the one-node-at-a-time sequential greedy — and the "
    "trajectory row with MAX density is the answer (the tightest "
    "buyer-supplier community by average degree, a different object "
    "from k-core's fixed-threshold shell). The keep test is "
    "INTEGER-EXACT (2*eps_den*deg*N > eps_num*2E cross-multiplied in "
    "BIGINT), so round membership and every emitted stat are pure "
    "functions of the input — full trajectory value-locked by "
    "materialized chained CTEs. Per round: one degree agg, a 1-row "
    "stats aggregate (a driver scalar, like a watermark), two "
    "semi-joins; edges shrink geometrically, O(log N) rounds.",
)
def purchase_graph_densest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import densest_subgraph_trajectory

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    traj = densest_subgraph_trajectory(edges, max_rounds=12)
    return traj.select(
        "round",
        "n_nodes",
        "sym_degree_sum",
        F.round("density", 6).alias("density"),
    )


def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    """Chained-CTE twin of ops.graph.kcore on the symmetrized purchase
    graph: per sweep one HAVING-degree CTE + one both-endpoints edge
    filter — all-integer, so survivor membership, degrees, and the
    checksum are value-locked."""
    ctes = [
        """raw AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )""",
        """e0 AS MATERIALIZED (
        SELECT a, b FROM raw UNION SELECT b AS a, a AS b FROM raw
    )""",
    ]
    # AS MATERIALIZED is load-bearing: DuckDB inlines single-reference
    # CTEs, so a 6-deep peel chain re-evaluates each level per reference
    # (~3^rounds expansions of the edge list) — at sf0.1 that exploded
    # temp spill to disk-full. Materializing pins each level to one
    # evaluation, which is also the semantics the Spark loop has.
    for i in range(1, rounds + 1):
        ctes.append(f"""n{i} AS MATERIALIZED (
        SELECT a AS node FROM e{i-1} GROUP BY a HAVING count(*) >= {k}
    )""")
        ctes.append(f"""e{i} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{i-1} e
        JOIN n{i} x ON e.a = x.node
        JOIN n{i} y ON e.b = y.node
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    core AS (
        SELECT a AS node, CAST(count(*) AS BIGINT) AS core_degree
        FROM e{rounds} GROUP BY a
    )
    SELECT CAST(count(*) AS BIGINT) AS n_core_nodes,
           CAST(sum(CASE WHEN node <= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_customers,
           CAST(sum(CASE WHEN node > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_suppliers,
           CAST(sum(core_degree) AS BIGINT) AS sym_degree_sum,
           CAST(min(core_degree) AS BIGINT) AS min_core_degree,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM core
    """


@query(
    "purchase_graph_kcore",
    oracle=_kcore_oracle(),
    description="3-CORE of the symmetrized purchase graph by "
    "synchronous peeling (6 fixed sweeps): repeatedly drop every node "
    "whose current degree is under 3 — the cascade that a one-shot "
    "degree threshold gets wrong (deleting a node can drag neighbors "
    "below k). The cohesion screen for loyal-buyer cores / dense "
    "subcommunities, completing the graph family beside components, "
    "PageRank/PPR/HITS, triangles, LPA, BFS and temporal reach. "
    "Spark plan: ops.graph.kcore — per sweep ONE degree hash-agg + "
    "TWO left-semi edge filters, localCheckpoint-cut; edge volume "
    "only shrinks, nothing is collected. All-integer, so the "
    "chained-CTE oracle value-locks survivor membership (sum(node) "
    "checksum), per-side counts, and the degree mass; min_core_degree "
    ">= 3 in the output doubles as the convergence witness.",
)
def purchase_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import kcore

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    core = kcore(edges, k=3, rounds=6)
    return core.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"),
        F.sum(F.when(F.col("node") <= 1_000_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_customers"),
        F.sum(F.when(F.col("node") > 1_000_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppliers"),
        F.sum("core_degree").cast("bigint").alias("sym_degree_sum"),
        F.min("core_degree").cast("bigint").alias("min_core_degree"),
        F.sum("node").cast("bigint").alias("node_checksum"),
    )


def _temporal_reach_oracle(iterations: int = 4) -> str:
    """Chained-CTE twin of ops.graph.temporal_reachability on the
    timestamped purchase graph with MACHINERY-segment seeds: one
    min-relaxation CTE per round — integer/timestamp-only, so the full
    (node, arrival) vector is value-locked."""
    ctes = [
        """raw AS (
        SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b,
               o.o_orderdate AS t
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )""",
        """sym AS MATERIALIZED (
        SELECT a, b, t FROM raw UNION SELECT b AS a, a AS b, t FROM raw
    )""",
        """a0 AS (
        SELECT DISTINCT c_custkey AS node,
               TIMESTAMP '1970-01-01 00:00:00' AS arrival
        FROM customer WHERE c_mktsegment = 'MACHINERY'
    )""",
    ]
    # MATERIALIZED for the same reason as the k-core oracle: each round
    # references the previous level twice, and DuckDB re-evaluates
    # inlined CTEs per reference (2^rounds blowup without it)
    for i in range(1, iterations + 1):
        ctes.append(f"""a{i} AS MATERIALIZED (
        SELECT node, min(arrival) AS arrival FROM (
            SELECT node, arrival FROM a{i-1}
            UNION ALL
            SELECT s.b AS node, s.t AS arrival
            FROM sym s JOIN a{i-1} ON s.a = a{i-1}.node
            WHERE s.t >= a{i-1}.arrival
        ) GROUP BY node
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT CAST(node AS BIGINT) AS node, arrival FROM a{iterations}
    """


@query(
    "temporal_purchase_reach",
    oracle=_temporal_reach_oracle(),
    description="TIME-RESPECTING reachability (earliest arrival, 4 "
    "relaxation rounds) from the MACHINERY-segment customers over the "
    "timestamped purchase graph: an edge dated t is traversable only "
    "if its tail was reached at or before t — the propagation "
    "semantics (influence, contagion, provenance) that static BFS "
    "gets WRONG by walking backwards in time. Spark plan: ops.graph."
    "temporal_reachability — per round one arrival-vector->edges "
    "equi-join with the time residual as a join filter + one "
    "min-aggregate (two key shuffles), Bellman-Ford-monotone, "
    "localCheckpoint-cut. No floats anywhere, so the oracle (one "
    "chained min-relaxation CTE per round) value-locks the full "
    "(node, arrival) vector.",
)
def temporal_purchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import temporal_reachability

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    raw = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
            F.col("o_orderdate").alias("ts"),
        )
    )
    edges = raw.unionByName(
        raw.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "ts"
        )
    )
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .select(F.col("c_custkey").alias("node"))
    )
    arr = temporal_reachability(edges, seeds, iterations=4)
    return arr.select(F.col("node").cast("bigint").alias("node"), "arrival")


@query(
    "event_ewma_anomalies",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    contrib AS (
        SELECT event_type, day + CAST(d || ' days' AS INTERVAL) AS target,
               round(pow(0.7, d - 1), 12) AS w, cnt
        FROM daily, unnest(range(1, 15)) AS u(d)
    ),
    ewma AS (
        SELECT event_type, CAST(target AS DATE) AS day,
               round(CAST(sum(CAST(w * cnt AS DECIMAL(38,14))) AS DOUBLE)
                     / CAST(sum(CAST(w AS DECIMAL(38,14))) AS DOUBLE), 4)
                   AS ewma
        FROM contrib GROUP BY event_type, target
    ),
    scored AS (
        SELECT d.event_type, d.day, d.cnt, e.ewma,
               round(d.cnt / e.ewma, 4) AS ratio
        FROM daily d JOIN ewma e
          ON e.event_type = d.event_type AND e.day = d.day
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN ratio > 1.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anomalies,
           round(max(ratio), 4) AS max_ratio
    FROM scored GROUP BY event_type
    """,
    description="EWMA anomaly detection over daily event volumes — the "
    "streaming-friendly upgrade of the global-stddev anomaly gate "
    "(daily_event_anomalies): each day's count is compared to the "
    "exponentially-weighted mean of the PRIOR 14 days (alpha=0.3, "
    "truncated-window weights normalized so startup days aren't "
    "biased), flagging days above 1.5x their own recent baseline — "
    "seasonality-robust where a global mean is not. The recursion is "
    "unrolled into explicit per-lag weight contributions (explode 14 "
    "lags -> one hash agg on the O(types x days) daily frame — no "
    "recursive CTE, no per-row loop), weights rounded at 1e-12 so "
    "libm pow ulp drift can't split the engines, sums decimal-stable. "
    "Scale: all work after the daily pre-agg is O(types x days x 14).",
)
def event_ewma_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    daily = daily.localCheckpoint(eager=False)  # feeds contribs AND scoring
    contrib = daily.select(
        "event_type",
        F.explode(F.expr("sequence(1, 14)")).alias("d"),
        "day",
        "cnt",
    ).select(
        "event_type",
        F.expr("date_add(day, d)").alias("target"),
        F.expr("round(pow(0.7, d - 1), 12)").alias("w"),
        "cnt",
    )
    ewma = contrib.groupBy("event_type", F.col("target").alias("day")).agg(
        F.round(
            F.sum((F.col("w") * F.col("cnt")).cast("decimal(38,14)")).cast("double")
            / F.sum(F.col("w").cast("decimal(38,14)")).cast("double"),
            4,
        ).alias("ewma")
    )
    scored = daily.join(ewma, ["event_type", "day"]).select(
        "event_type",
        F.round(F.col("cnt") / F.col("ewma"), 4).alias("ratio"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("ratio") > 1.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_anomalies"),
        F.round(F.max("ratio"), 4).alias("max_ratio"),
    )


@query(
    "event_cusum_changepoints",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cnt) AS BIGINT) AS total,
               sqrt(greatest(
                   CAST(sum(CAST(cnt * cnt AS DECIMAL(38,10))) AS DOUBLE)
                       / count(*)
                   - (CAST(sum(CAST(cnt AS DECIMAL(38,10))) AS DOUBLE)
                          / count(*))
                     * (CAST(sum(CAST(cnt AS DECIMAL(38,10))) AS DOUBLE)
                          / count(*)),
                   0.0)) AS sigma
        FROM daily GROUP BY event_type
    ),
    pref AS (
        SELECT d.event_type, d.day, s.n_days, s.sigma,
               sum(d.cnt * s.n_days - s.total) OVER
                   (PARTITION BY d.event_type ORDER BY d.day
                    ROWS UNBOUNDED PRECEDING) AS p
        FROM daily d JOIN stats s ON d.event_type = s.event_type
    ),
    cusum AS (
        SELECT event_type, day, n_days, sigma,
               p - min(p) OVER (PARTITION BY event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS s_pos,
               max(p) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) - p AS s_neg
        FROM pref
    )
    SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days,
           round(max(CAST(s_pos AS DOUBLE) / (n_days * sigma)), 4)
               AS max_drift_up,
           round(max(CAST(s_neg AS DOUBLE) / (n_days * sigma)), 4)
               AS max_drift_down,
           CAST(sum(CASE WHEN CAST(s_pos AS DOUBLE) / (n_days * sigma) > 4
                           OR CAST(s_neg AS DOUBLE) / (n_days * sigma) > 4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_days
    FROM cusum GROUP BY event_type
    """,
    description="CUSUM change-point detection over per-type daily event "
    "volumes: the cumulative-deviation detector that catches sustained "
    "small LEVEL SHIFTS pointwise detectors miss (complements "
    "daily_event_anomalies' global z-gate and event_ewma_anomalies' "
    "recent-baseline ratio). The max(0, S+x) CUSUM recursion is "
    "rewritten as prefix-sum algebra — S+_t = P_t - min(P_j, j<=t), "
    "S-_t = max(P_j) - P_t over the running prefix P of deviations — "
    "so it needs no recursion and no per-row loop, just two cumulative "
    "window passes. Cross-engine float safety: deviations are SCALED "
    "TO EXACT INTEGERS (n*cnt - total), so every running sum is exact "
    "BIGINT arithmetic immune to window-aggregation association order; "
    "doubles appear only in the final fixed-sequence sigma "
    "normalization. Scale: everything after the daily pre-agg is "
    "O(types x days) — the windows partition by type over day-counted "
    "series, never over raw events.",
)
def event_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # feeds stats AND the window pass
    )
    dec = "decimal(38,10)"
    mean = F.sum(F.col("cnt").cast(dec)).cast("double") / F.count(F.lit(1))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("total"),
        F.sqrt(
            F.greatest(
                F.sum((F.col("cnt") * F.col("cnt")).cast(dec)).cast("double")
                / F.count(F.lit(1))
                - mean * mean,
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = daily.join(F.broadcast(stats), "event_type").withColumn(
        "p",
        F.sum(F.col("cnt") * F.col("n_days") - F.col("total")).over(cum),
    )
    cusum = pref.select(
        "event_type",
        "day",
        "n_days",
        "sigma",
        (F.col("p") - F.min("p").over(cum)).alias("s_pos"),
        (F.max("p").over(cum) - F.col("p")).alias("s_neg"),
    )
    up = F.col("s_pos").cast("double") / (F.col("n_days") * F.col("sigma"))
    down = F.col("s_neg").cast("double") / (F.col("n_days") * F.col("sigma"))
    return cusum.groupBy("event_type").agg(
        F.max("n_days").cast("bigint").alias("n_days"),
        F.round(F.max(up), 4).alias("max_drift_up"),
        F.round(F.max(down), 4).alias("max_drift_down"),
        F.sum(F.when((up > 4) | (down > 4), 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged_days"),
    )


@query(
    "order_leadtime_percentiles",
    oracle="""
    WITH lt AS (
        SELECT o.o_orderpriority AS priority,
               CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS BIGINT) AS lead_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(quantile_cont(lead_days, 0.5), 4) AS p50_days,
           round(quantile_cont(lead_days, 0.9), 4) AS p90_days,
           round(quantile_cont(lead_days, 0.99), 4) AS p99_days,
           CAST(max(lead_days) AS BIGINT) AS max_days,
           CAST(sum(CASE WHEN lead_days > 60 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sla_breaches
    FROM lt GROUP BY priority
    """,
    description="Order-fulfillment lead-time SLA report: p50/p90/p99 days "
    "from order placement to line shipment per order priority, with a "
    "60-day breach count — the latency-percentile reporting shape "
    "(never averages: the p99 IS the SLA) applied to fulfillment ops; "
    "a priority class whose p99 matches the others' is a routing bug "
    "made visible. Interpolating exact percentiles parity-matched "
    "between engines (the dim-profile precedent); the one join is the "
    "fact-to-fact orders key with the date filter pushed to the scan. "
    "Scale: one key shuffle + per-priority exact percentiles (the "
    "documented approx_percentile swap applies at fact scale).",
)
def order_leadtime_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lt = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff("l_shipdate", "o_orderdate")
            .cast("bigint")
            .alias("lead_days"),
        )
    )
    return lt.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(F.expr("percentile(lead_days, 0.5D)"), 4).alias("p50_days"),
        F.round(F.expr("percentile(lead_days, 0.9D)"), 4).alias("p90_days"),
        F.round(F.expr("percentile(lead_days, 0.99D)"), 4).alias("p99_days"),
        F.max("lead_days").cast("bigint").alias("max_days"),
        F.sum(F.when(F.col("lead_days") > 60, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sla_breaches"),
    )


_NEG_TRIALS = 10  # oversample 2x the kept k=5 to survive positive collisions


def _neg_samples_oracle() -> str:
    from smartpool_bigdata_spark.ops.text import duck_hash64

    h = duck_hash64(
        "('neg|' || CAST(user_id AS VARCHAR) || '|' || CAST(t AS VARCHAR))"
    )
    return f"""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    nmax AS (SELECT CAST(max(p_partkey) AS BIGINT) AS n_items FROM part),
    trials AS (
        SELECT u.user_id, t.t,
               1 + {h} % n_items AS item
        FROM (SELECT DISTINCT user_id FROM pos) u
        CROSS JOIN nmax
        CROSS JOIN (SELECT unnest(range(0, {_NEG_TRIALS})) AS t) t
    ),
    dedup AS (
        SELECT user_id, item, CAST(min(t) AS BIGINT) AS t
        FROM trials GROUP BY user_id, item
    ),
    neg AS (
        SELECT d.* FROM dedup d
        WHERE NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.user_id = d.user_id AND p.item = d.item)
    )
    SELECT user_id, CAST(item AS BIGINT) AS item, t,
           CAST(rn AS INTEGER) AS neg_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY t, item) AS rn
          FROM neg)
    WHERE rn <= 5
    """


@query(
    "user_item_negative_samples",
    oracle=_neg_samples_oracle(),
    description="Deterministic negative sampling for recommender / "
    "contrastive training over the purchase matrix: per user, 5 items "
    "they did NOT buy, drawn by hashing (user, trial) into the item-id "
    "space, 2x-oversampled, deduped, then positives removed by an "
    "ANTI-join — the standard distributed recipe, because the naive "
    "'rank all unpurchased items per user' is a users x items cross "
    "join. Reproducible across runs/partitionings (md5 trials, not "
    "rand()), and every emitted row is auditable: trial index and "
    "within-user rank ride along. Scale: trials are O(users x 10) "
    "row-local hashing against a broadcast item-count scalar; the "
    "anti-join shuffles on (user, item) like any fact join; the "
    "per-user rank window sees <= 10 rows per user. Collision math: "
    "10 trials vs k=5 keeps P(user under-filled) negligible while the "
    "positive set per user is << item catalog.",
)
def user_item_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import spark_hash64

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pos = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds users, the anti-join
    )
    nmax = _t(spark, sf_dir, "part").agg(
        F.max("p_partkey").cast("bigint").alias("n_items")
    )
    users = pos.select("user_id").distinct()
    h = spark_hash64(
        "concat('neg|', cast(user_id as string), '|', cast(t as string))"
    )
    trials = (
        users.crossJoin(F.broadcast(nmax))
        .select(
            "user_id",
            "n_items",
            F.explode(F.expr(f"sequence(0, {_NEG_TRIALS - 1})")).alias("t"),
        )
        .select(
            "user_id",
            "t",
            (1 + F.expr(h) % F.col("n_items")).alias("item"),
        )
    )
    dedup = trials.groupBy("user_id", "item").agg(
        F.min("t").cast("bigint").alias("t")
    )
    # shuffle-hash anti-join: the positive set is fact-sized at scale
    # (nothing to broadcast) and already re-partitioned by the group —
    # sorting both sides for SMJ buys nothing
    neg = dedup.join(pos.hint("shuffle_hash"), ["user_id", "item"], "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("t", "item")
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 5)
        .select(
            "user_id",
            F.col("item").cast("bigint").alias("item"),
            "t",
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
    )


_PSI_CUTS = ", ".join(str(i / 10) for i in range(1, 10))
# bracket indexing differs by dialect: DuckDB lists are 1-based, Spark
# arrays 0-based (element_at is Spark's 1-based accessor)
_PSI_BIN_DUCK = " + ".join(
    f"(CASE WHEN value > cs[{i}] THEN 1 ELSE 0 END)" for i in range(1, 10)
)
_PSI_BIN_SPARK = " + ".join(
    f"(CASE WHEN value > element_at(cs, {i}) THEN 1 ELSE 0 END)"
    for i in range(1, 10)
)


@query(
    "event_value_psi_drift",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(ts AS DATE) AS day, value
        FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
        SELECT min(day) + CAST(CAST((max(day) - min(day)) / 2 AS BIGINT)
                               || ' days' AS INTERVAL) AS cutover
        FROM vals
    ),
    tagged AS (
        SELECT CASE WHEN day < cutover THEN 'ref' ELSE 'cur' END AS period,
               value
        FROM vals CROSS JOIN bounds
    ),
    cuts AS (
        SELECT quantile_cont(value, [{_PSI_CUTS}]) AS cs
        FROM tagged WHERE period = 'ref'
    ),
    binned AS (
        SELECT period, 1 + {_PSI_BIN_DUCK} AS bin
        FROM tagged CROSS JOIN cuts
    ),
    g AS (
        SELECT bin,
               CAST(sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ref,
               CAST(sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cur
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                   CAST(sum(n_cur) AS BIGINT) AS t_cur
            FROM g)
    SELECT CAST(bin AS BIGINT) AS bin, n_ref, n_cur,
           round(greatest(CAST(n_ref AS DOUBLE) / t_ref, 0.0001), 4) AS p,
           round(greatest(CAST(n_cur AS DOUBLE) / t_cur, 0.0001), 4) AS q,
           round(CAST(CAST(
               (greatest(CAST(n_ref AS DOUBLE) / t_ref, 0.0001)
                - greatest(CAST(n_cur AS DOUBLE) / t_cur, 0.0001))
               * ln(greatest(CAST(n_ref AS DOUBLE) / t_ref, 0.0001)
                    / greatest(CAST(n_cur AS DOUBLE) / t_cur, 0.0001))
               AS DECIMAL(38,18)) AS DOUBLE), 6) AS psi_term
    FROM g CROSS JOIN tot
    """,
    description="Population stability index between the first and second "
    "half of the observation window, over event values: the standard "
    "model-monitoring drift metric — reference-decile bins (cut points "
    "from the REFERENCE period's exact quantiles, so 'no drift' means "
    "~10% per bin), per-bin (p-q)*ln(p/q) contributions with the "
    "conventional 1e-4 share floor for empty cells. PSI > 0.2 on any "
    "feature is the usual retrain trigger. Cross-engine determinism "
    "the entropy way: each transcendental term is staged to "
    "DECIMAL(38,18); shares are fixed double sequences over exact "
    "counts; bin assignment is an integer cut-count, identical in "
    "both dialects. Scale: one scan to tag periods, the 9 cut points "
    "are one exact-percentile aggregate over the reference slice "
    "(approx_percentile is the documented fact-scale swap), binning "
    "is row-local against the broadcast cuts, and everything after "
    "is O(10).",
)
def event_value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vals = ev.select(F.col("ts").cast("date").alias("day"), "value")
    bounds = vals.agg(
        F.expr(
            "date_add(min(day), cast(datediff(max(day), min(day)) / 2 as int))"
        ).alias("cutover")
    )
    tagged = vals.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("day") < F.col("cutover"), "ref")
        .otherwise("cur")
        .alias("period"),
        "value",
    )
    cuts = tagged.filter(F.col("period") == "ref").agg(
        F.expr(f"percentile(value, array({_PSI_CUTS}))").alias("cs")
    )
    binned = tagged.crossJoin(F.broadcast(cuts)).select(
        "period", F.expr(f"1 + {_PSI_BIN_SPARK}").alias("bin")
    )
    g = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    tot = g.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
    )
    p = F.greatest(F.col("n_ref").cast("double") / F.col("t_ref"), F.lit(0.0001))
    q = F.greatest(F.col("n_cur").cast("double") / F.col("t_cur"), F.lit(0.0001))
    return g.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("bigint").alias("bin"),
        "n_ref",
        "n_cur",
        F.round(p, 4).alias("p"),
        F.round(q, 4).alias("q"),
        F.round(
            ((p - q) * F.log(p / q)).cast("decimal(38,18)").cast("double"), 6
        ).alias("psi_term"),
    )


@query(
    "table_content_digest",
    oracle=f"""
    WITH o AS (
        SELECT 'orders' AS tbl,
               {{h}} AS h
        FROM (SELECT CAST(o_orderkey AS VARCHAR) || '|' ||
                     CAST(o_custkey AS VARCHAR) || '|' ||
                     o_orderstatus || '|' ||
                     CAST(round(o_totalprice, 2) AS VARCHAR) AS rowstr
              FROM orders)
    ),
    l AS (
        SELECT 'lineitem' AS tbl,
               {{h}} AS h
        FROM (SELECT CAST(l_orderkey AS VARCHAR) || '|' ||
                     CAST(l_linenumber AS VARCHAR) || '|' ||
                     CAST(l_partkey AS VARCHAR) || '|' ||
                     CAST(round(l_extendedprice, 2) AS VARCHAR) AS rowstr
              FROM lineitem)
    ),
    all_rows AS (SELECT * FROM o UNION ALL SELECT * FROM l)
    SELECT tbl,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) % 2305843009213693951 AS BIGINT) AS content_digest,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_rows
    FROM all_rows GROUP BY tbl
    """.format(h="('0x'||substr(md5(rowstr),1,15))::BIGINT"),
    description="Order-independent table content digest: each row "
    "canonicalizes to a delimited string, hashes to a 60-bit integer, "
    "and the table digest is the SUM of row hashes mod a Mersenne "
    "prime — identical no matter how the table is partitioned, "
    "ordered, or which engine computes it, which is the property that "
    "makes it the replication / migration / backup-restore "
    "verification primitive (compare two 100 TB replicas by exchanging "
    "16 bytes). Distinct-row count rides along to expose "
    "duplicate-row divergence the sum alone could mask. Scale: pure "
    "map-side fold — one scan per table plus the 2-row aggregate "
    "(under-split local scans additionally pay _ts's conditional "
    "spread repartition so the md5 map work parallelizes; a no-op at "
    "cluster split counts); additive merge means per-partition digests "
    "combine exactly like the sketch family.",
)
def table_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import spark_hash64

    # _ts (r12 optimization): the per-row string canonicalization + md5
    # is the dominant cost and runs in the scan stage; single-split
    # testdata scans serialized each table's digest on one core
    # (stage_time_audit: exec 5.0 s vs wall 2.1 s over 23 tasks, the
    # md5 map stages single-task). Spread is a no-op on cluster scans.
    orders = _ts(spark, sf_dir, "orders").select(
        F.lit("orders").alias("tbl"),
        F.expr(
            spark_hash64(
                "concat(cast(o_orderkey as string), '|', "
                "cast(o_custkey as string), '|', o_orderstatus, '|', "
                "cast(round(o_totalprice, 2) as string))"
            )
        ).alias("h"),
    )
    li = _ts(spark, sf_dir, "lineitem").select(
        F.lit("lineitem").alias("tbl"),
        F.expr(
            spark_hash64(
                "concat(cast(l_orderkey as string), '|', "
                "cast(l_linenumber as string), '|', "
                "cast(l_partkey as string), '|', "
                "cast(round(l_extendedprice, 2) as string))"
            )
        ).alias("h"),
    )
    return (
        orders.unionByName(li)
        .groupBy("tbl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            # DECIMAL(38,0) accumulator: 60-bit hashes x big tables
            # overflow BIGINT under ANSI; DuckDB auto-widens to HUGEINT
            (
                F.sum(F.col("h").cast("decimal(38,0)"))
                % F.lit(2305843009213693951).cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("content_digest"),
            F.countDistinct("h").cast("bigint").alias("n_distinct_rows"),
        )
    )


@query(
    "fd_violation_audit",
    oracle="""
    WITH checks AS (
        SELECT 'p_name->p_brand' AS fd, p_name AS lhs, p_brand AS rhs
        FROM part
        UNION ALL
        SELECT 'p_name->p_type', p_name, p_type FROM part
        UNION ALL
        SELECT 'c_nationkey->c_mktsegment', CAST(c_nationkey AS VARCHAR),
               c_mktsegment
        FROM customer
    ),
    g AS (
        SELECT fd, lhs, CAST(count(DISTINCT rhs) AS BIGINT) AS n_rhs
        FROM checks GROUP BY fd, lhs
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(max(n_rhs) AS BIGINT) AS max_rhs_per_lhs,
           round(CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS violation_rate
    FROM g GROUP BY fd
    """,
    description="Functional-dependency violation audit: for candidate FDs "
    "(p_name->p_brand, p_name->p_type, c_nationkey->c_mktsegment), how "
    "many left-hand values map to MORE than one right-hand value — the "
    "schema-inference / denormalization-safety check ('can I collapse "
    "this column into that dimension?') that extends the DQ family "
    "beyond per-column checks (nulls/domains/uniqueness) to "
    "CROSS-column structure. All three candidate FDs are audited in "
    "one stacked pass. Scale: one (fd, lhs) shuffle with distinct-rhs "
    "counting, then an O(distinct-lhs) rollup — the same shape as a "
    "grouped count-distinct; sketchable (KMV per lhs) when the lhs "
    "domain itself is huge.",
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    cust = _t(spark, sf_dir, "customer")
    checks = (
        part.select(
            F.lit("p_name->p_brand").alias("fd"),
            F.col("p_name").alias("lhs"),
            F.col("p_brand").alias("rhs"),
        )
        .unionByName(
            part.select(
                F.lit("p_name->p_type").alias("fd"),
                F.col("p_name").alias("lhs"),
                F.col("p_type").alias("rhs"),
            )
        )
        .unionByName(
            cust.select(
                F.lit("c_nationkey->c_mktsegment").alias("fd"),
                F.col("c_nationkey").cast("string").alias("lhs"),
                F.col("c_mktsegment").alias("rhs"),
            )
        )
    )
    g = checks.groupBy("fd", "lhs").agg(
        F.countDistinct("rhs").cast("bigint").alias("n_rhs")
    )
    return g.groupBy("fd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
        F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating"),
        F.max("n_rhs").cast("bigint").alias("max_rhs_per_lhs"),
        F.round(
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("violation_rate"),
    )


@query(
    "user_conversion_life_table",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(min(ts) AS DATE) AS d0,
               CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS DATE) AS dconv
        FROM events GROUP BY user_id
    ),
    horizon AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
    durations AS (
        SELECT CASE WHEN dconv IS NOT NULL
                    THEN CAST(dconv - d0 AS BIGINT)
                    ELSE CAST(dmax - d0 AS BIGINT) END AS d,
               CASE WHEN dconv IS NOT NULL THEN 1 ELSE 0 END AS converted
        FROM per_user CROSS JOIN horizon
    ),
    days AS (
        SELECT d,
               CAST(sum(converted) AS BIGINT) AS n_conv,
               CAST(sum(1 - converted) AS BIGINT) AS n_cens
        FROM durations GROUP BY d
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM durations),
    risk AS (
        SELECT d, n_conv, n_cens,
               n_users - coalesce(sum(n_conv + n_cens) OVER
                   (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS n_at_risk
        FROM days CROSS JOIN tot
    )
    SELECT d AS day, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_conv AS n_conversions, n_cens AS n_censored,
           round(CAST(n_conv AS DOUBLE) / n_at_risk, 6) AS hazard,
           round(CAST(sum(CAST(CAST(n_conv AS DOUBLE) / n_at_risk
                               AS DECIMAL(38,18))) OVER
                  (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
               AS cum_hazard
    FROM risk
    """,
    description="Discrete-time conversion life table (Kaplan-Meier-style "
    "survival accounting with Nelson-Aalen cumulative hazard): per "
    "days-since-first-event, users still at risk, conversions, "
    "right-censored users (no purchase by the observation horizon), "
    "per-day hazard d/n and the running cumulative hazard — the "
    "time-to-event primitive behind activation funnels and churn "
    "models, done with CENSORING handled correctly (naive conversion "
    "rates over-count users who simply haven't had time yet). "
    "Nelson-Aalen is chosen over the K-M product exactly because it is "
    "ADDITIVE — a prefix sum, not a running product — so the decimal-"
    "stable window-sum machinery applies (per-day hazard staged to "
    "DECIMAL(38,18) before the ordered sum, association-order "
    "immune). n_at_risk is total-minus-exclusive-prefix on exact "
    "integers. Scale: one shuffle to per-user firsts, one to the "
    "O(days) day table; the windows order O(days) rows; the horizon "
    "is a broadcast scalar.",
)
def user_conversion_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts")).cast("date").alias("d0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .cast("date")
        .alias("dconv"),
    )
    horizon = ev.agg(F.max(F.col("ts")).cast("date").alias("dmax"))
    durations = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("dconv").isNotNull(), F.datediff("dconv", "d0")
        )
        .otherwise(F.datediff("dmax", "d0"))
        .cast("bigint")
        .alias("d"),
        F.when(F.col("dconv").isNotNull(), 1).otherwise(0).alias("converted"),
    )
    days = durations.groupBy("d").agg(
        F.sum("converted").cast("bigint").alias("n_conv"),
        F.sum(1 - F.col("converted")).cast("bigint").alias("n_cens"),
    )
    tot = durations.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    excl = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    incl = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = days.crossJoin(F.broadcast(tot)).withColumn(
        "n_at_risk",
        F.col("n_users")
        - F.coalesce(
            F.sum(F.col("n_conv") + F.col("n_cens")).over(excl), F.lit(0)
        ),
    )
    hazard = F.col("n_conv").cast("double") / F.col("n_at_risk")
    return risk.select(
        F.col("d").alias("day"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("n_conv").alias("n_conversions"),
        F.col("n_cens").alias("n_censored"),
        F.round(hazard, 6).alias("hazard"),
        F.round(
            F.sum(hazard.cast("decimal(38,18)")).over(incl).cast("double"), 6
        ).alias("cum_hazard"),
    )


@query(
    "customer_revenue_gini",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(38,10))) AS r
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i FROM rev
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(r) AS DOUBLE) AS total,
               CAST(sum(i * r) AS DOUBLE) AS weighted
        FROM ranked
    )
    SELECT n AS n_customers,
           round(total, 2) AS total_revenue,
           round(2 * weighted / (n * total) - (n + 1.0) / n, 6) AS gini,
           round(total / n, 4) AS mean_revenue
    FROM s
    """,
    description="Gini coefficient of customer revenue concentration "
    "(Lorenz-curve summary: 0 = perfectly even, ->1 = one whale) via "
    "the rank-weighted identity G = 2*sum(i*x_(i))/(n*sum x) - (n+1)/n "
    "— the whale-risk / inequality diagnostic behind account "
    "concentration dashboards, and the same statistic curation teams "
    "use on per-source token mass. Revenue sums are DECIMAL-exact; "
    "ranks are exact integers; the identity is one fixed double "
    "expression — no Lorenz-curve materialization, no pair joins. "
    "Scale: one shuffle to per-customer revenue; on Spark the rank is "
    "the DISTRIBUTED PREFIX SUM over (revenue, custkey) order (the "
    "oracle's one-task row_number window is the shape this avoids); "
    "the i*x products fold in the same aggregate.",
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("r")
    )
    ranked = global_running_sum(
        rev.withColumn("one", F.lit(1).cast("bigint"))
        .withColumn("rkey", F.col("r").cast("double")),
        # rkey (double) feeds the numeric range-bucket probe; the exact
        # DECIMAL r breaks any double-collision tie so the total order
        # matches the oracle's (r, o_custkey) exactly
        order_by=["rkey", "r", "o_custkey"],
        value_col="one",
        out_col="i",
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("double").alias("total"),
        F.sum(F.col("i") * F.col("r")).cast("double").alias("weighted"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.round("total", 2).alias("total_revenue"),
        F.round(
            2 * F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
        F.round(F.col("total") / F.col("n"), 4).alias("mean_revenue"),
    )


@query(
    "daily_seasonal_residuals",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               dayofweek(CAST(ts AS DATE)) + 1 AS dow,  -- Spark 1=Sun..7
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    season AS (
        SELECT dow,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cnt) AS BIGINT) AS dow_total
        FROM daily GROUP BY dow
    ),
    resid AS (
        SELECT d.day, d.dow, d.cnt,
               CAST(d.cnt AS DOUBLE)
               - CAST(s.dow_total AS DOUBLE) / s.n_days AS r
        FROM daily d JOIN season s ON d.dow = s.dow
    ),
    spread AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sqrt(greatest(
                   CAST(sum(CAST(r * r AS DECIMAL(38,10))) AS DOUBLE)
                       / count(*)
                   - (CAST(sum(CAST(r AS DECIMAL(38,10))) AS DOUBLE)
                          / count(*))
                     * (CAST(sum(CAST(r AS DECIMAL(38,10))) AS DOUBLE)
                          / count(*)),
                   0.0)) AS sd
        FROM resid
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(CAST(r AS DECIMAL(38,10))) AS DOUBLE)
                 / count(*), 4) AS mean_residual,
           round(max(abs(r) / sd), 4) AS max_abs_residual_sigma,
           CAST(sum(CASE WHEN abs(r) > 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anomalies
    FROM resid CROSS JOIN spread
    WHERE sd > 0
    GROUP BY dow
    """,
    description="Day-of-week seasonal decomposition with residual "
    "anomalies: each day's event volume minus its weekday's mean "
    "(seasonal-naive detrend), flagged beyond 2 residual-sigma — "
    "catches 'low for a Saturday' that every unconditioned detector "
    "misses, completing the time-series family: global z "
    "(daily_event_anomalies), recent baseline (EWMA), level shift "
    "(CUSUM), robust tails (MAD), trend (OLS slopes), and now "
    "seasonality. The weekday means are kept as exact integer "
    "(total, n) pairs — the residual is one fixed double expression — "
    "and residual variance uses the decimal-stable power-sum form. "
    "Scale: everything after the daily pre-agg is O(days) with the "
    "7-row seasonal frame and the variance scalar broadcast.",
)
def daily_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select("day", F.dayofweek("day").alias("dow"), "cnt")
        .localCheckpoint(eager=False)  # feeds season AND residual pass
    )
    season = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("dow_total"),
    )
    resid = daily.join(F.broadcast(season), "dow").select(
        "day",
        "dow",
        (
            F.col("cnt").cast("double")
            - F.col("dow_total").cast("double") / F.col("n_days")
        ).alias("r"),
    )
    dec = "decimal(38,10)"
    mean_r = F.sum(F.col("r").cast(dec)).cast("double") / F.count(F.lit(1))
    spread = resid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sqrt(
            F.greatest(
                F.sum((F.col("r") * F.col("r")).cast(dec)).cast("double")
                / F.count(F.lit(1))
                - mean_r * mean_r,
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    return (
        resid.crossJoin(F.broadcast(spread))
        .filter(F.col("sd") > 0)
        .groupBy(F.col("dow").cast("bigint").alias("dow"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(
                F.sum(F.col("r").cast(dec)).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("mean_residual"),
            F.round(F.max(F.abs(F.col("r")) / F.col("sd")), 4).alias(
                "max_abs_residual_sigma"
            ),
            F.sum(F.when(F.abs(F.col("r")) > 2 * F.col("sd"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


@query(
    "event_value_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    absdev AS (
        SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
        FROM events e JOIN med m ON e.event_type = m.event_type
        WHERE e.value IS NOT NULL
    ),
    mad AS (
        SELECT event_type, max(med) AS med, median(ad) AS mad
        FROM absdev GROUP BY event_type
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_values,
           round(m.mad, 4) AS mad,
           round(m.med, 4) AS median_value,
           CAST(sum(CASE WHEN m.mad > 0
                          AND a.ad > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM absdev a JOIN mad m ON a.event_type = m.event_type
    GROUP BY a.event_type, m.mad, m.med
    """,
    description="Robust outlier detection via median absolute deviation: "
    "per event type, MAD-based flags at the 3-sigma-equivalent "
    "threshold (1.4826*MAD = sigma-consistent for normal data) — the "
    "estimator that survives the very outliers it hunts (a global "
    "stddev gate like daily_event_anomalies is itself inflated by "
    "heavy tails; MAD has a 50% breakdown point). Two-pass exact "
    "medians per type — Spark's interpolating percentile() matches "
    "DuckDB's median() (parity established by embedding_dim_profile); "
    "the deviation scan re-joins the O(types) medians broadcast. "
    "Scale: two scans + two O(types) aggregates; the exact median "
    "buffers per-group values — the documented swap is "
    "approx_percentile, same as the token-percentile family.",
)
def event_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    absdev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = absdev.groupBy("event_type").agg(
        F.max("med").alias("med"), F.expr("percentile(ad, 0.5D)").alias("mad")
    )
    return (
        absdev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "mad", "med")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (F.col("ad") > 3 * 1.4826 * F.col("mad")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_values",
            F.round("mad", 4).alias("mad"),
            F.round("med", 4).alias("median_value"),
            "n_outliers",
        )
    )


_FUNNEL_WINDOW_US = 6 * 3600 * 1_000_000  # 6 hours


@query(
    "user_window_funnel",
    oracle=f"""
    WITH base AS (
        SELECT user_id, event_type, epoch_us(ts) AS t
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    u AS (SELECT DISTINCT user_id FROM events),
    lv AS (
        SELECT u.user_id,
               CASE WHEN EXISTS (
                        SELECT 1 FROM base v
                        JOIN base c ON c.user_id = v.user_id
                           AND c.event_type = 'click' AND c.t >= v.t
                        JOIN base p ON p.user_id = v.user_id
                           AND p.event_type = 'purchase' AND p.t >= c.t
                        WHERE v.user_id = u.user_id AND v.event_type = 'view'
                          AND p.t - v.t <= {_FUNNEL_WINDOW_US})
                    THEN 3
                    WHEN EXISTS (
                        SELECT 1 FROM base v
                        JOIN base c ON c.user_id = v.user_id
                           AND c.event_type = 'click' AND c.t >= v.t
                        WHERE v.user_id = u.user_id AND v.event_type = 'view'
                          AND c.t - v.t <= {_FUNNEL_WINDOW_US})
                    THEN 2
                    WHEN EXISTS (
                        SELECT 1 FROM base v
                        WHERE v.user_id = u.user_id AND v.event_type = 'view')
                    THEN 1 ELSE 0 END AS level
        FROM u
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u)
    SELECT level, CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(count(*) AS DOUBLE) / n, 4) AS share
    FROM lv CROSS JOIN tot GROUP BY level, n
    """,
    description="Windowed conversion funnel (ClickHouse windowFunnel "
    "semantics, non-strict hops): per user, the deepest "
    "view->click->purchase chain whose TOTAL span fits a 6-hour window "
    "— level histogram over the user base. The engine side is a "
    "per-user ARRAY FOLD, zero UDFs: events collect into a sorted "
    "struct array ((ts, step, id) — step rank breaks ts ties in "
    "chain-friendly order) and one higher-order `aggregate` propagates "
    "the latest feasible chain-start per level (greedy latest-start is "
    "exact for non-strict hops). The ORACLE is an independent "
    "algorithm — quantified EXISTS over event triples — so agreement "
    "checks the fold's semantics, not its replay. Scale: one shuffle "
    "to group per user; fold state is 3 BIGINTs regardless of history "
    "length; per-user array size is the inherent cost (cap the "
    "collect with a time slice for hot users — same posture as "
    "sessionization); the EXISTS self-joins are the shape this fold "
    "exists to avoid at scale.",
)
def user_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    steps = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        F.struct(
            # NTZ -> TIMESTAMP is value-preserving under the pinned UTC
            # session zone; unix_micros rejects NTZ directly
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
            F.when(F.col("event_type") == "view", 0)
            .when(F.col("event_type") == "click", 1)
            .otherwise(2)
            .alias("step"),
            F.col("event_id").alias("eid"),
        ).alias("e"),
    )
    folded = steps.groupBy("user_id").agg(
        F.expr(
            f"""
            aggregate(
                array_sort(collect_list(e)),
                named_struct('s1', -1L, 's2', -1L, 's3', -1L),
                (acc, x) -> named_struct(
                    's1', CASE WHEN x.step = 0
                               THEN greatest(acc.s1, x.t) ELSE acc.s1 END,
                    's2', CASE WHEN x.step = 1 AND acc.s1 >= 0
                                    AND x.t - acc.s1 <= {_FUNNEL_WINDOW_US}
                               THEN greatest(acc.s2, acc.s1) ELSE acc.s2 END,
                    's3', CASE WHEN x.step = 2 AND acc.s2 >= 0
                                    AND x.t - acc.s2 <= {_FUNNEL_WINDOW_US}
                               THEN greatest(acc.s3, acc.s2) ELSE acc.s3 END))
            """
        ).alias("st")
    )
    lv = ev.select("user_id").distinct().join(folded, "user_id", "left").select(
        F.when(F.col("st.s3") >= 0, 3)
        .when(F.col("st.s2") >= 0, 2)
        .when(F.col("st.s1") >= 0, 1)
        .otherwise(0)
        .alias("level")
    )
    tot = lv.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        lv.groupBy("level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .crossJoin(F.broadcast(tot))
        .select(
            "level",
            "n_users",
            F.round(F.col("n_users").cast("double") / F.col("n"), 4).alias(
                "share"
            ),
        )
    )


def _lpa_oracle(iterations: int = 3) -> str:
    """Chained-CTE twin of ops.graph.label_propagation over the purchase
    graph: one (vote, argmax) CTE pair per synchronous sweep — all
    integer arithmetic, so no float-parity staging is needed at all."""
    ctes = [
        """raw AS (
        SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )""",
        """sym AS (
        SELECT a, b FROM raw UNION SELECT b AS a, a AS b FROM raw
    )""",
        """l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym)""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""v{i} AS (
        SELECT s.b AS node, l.lbl, count(*) AS c
        FROM sym s JOIN l{i-1} l ON s.a = l.node GROUP BY s.b, l.lbl
    )""")
        ctes.append(f"""l{i} AS (
        SELECT node, lbl FROM (
            SELECT node, lbl, row_number() OVER (
                PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
            FROM v{i})
        WHERE rn = 1
    )""")
    lf = f"l{iterations}"
    ctes += [
        """mt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM raw)""",
        f"""mem AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
                    FROM {lf} GROUP BY lbl)""",
        f"""ie AS (
        SELECT la.lbl, CAST(count(*) AS BIGINT) AS internal
        FROM raw u
        JOIN {lf} la ON u.a = la.node
        JOIN {lf} lb ON u.b = lb.node AND la.lbl = lb.lbl
        GROUP BY la.lbl
    )""",
        """deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
                   FROM sym GROUP BY a)""",
        f"""ds AS (SELECT l.lbl, CAST(sum(d.d) AS BIGINT) AS dsum
                   FROM deg d JOIN {lf} l ON d.node = l.node GROUP BY l.lbl)""",
    ]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT mem.lbl AS community, n_members,
           CAST(coalesce(ie.internal, 0) AS BIGINT) AS internal_edges,
           ds.dsum AS degree_sum,
           round(CAST(coalesce(ie.internal, 0) AS DOUBLE) / m
                 - (CAST(ds.dsum AS DOUBLE) / (2 * m))
                   * (CAST(ds.dsum AS DOUBLE) / (2 * m)), 6)
               AS modularity_term
    FROM mem
    JOIN ds ON mem.lbl = ds.lbl
    LEFT JOIN ie ON mem.lbl = ie.lbl
    CROSS JOIN mt
    ORDER BY n_members DESC, community ASC LIMIT 20
    """


@query(
    "purchase_graph_communities",
    oracle=_lpa_oracle(),
    description="Community detection on the symmetrized customer-supplier "
    "purchase graph via fixed-budget (3-sweep) SYNCHRONOUS label "
    "propagation — top-20 communities with member counts, internal "
    "edges, degree mass and per-community modularity terms. Classic "
    "LPA breaks vote ties randomly; this variant is a pure function "
    "of the input (argmax neighbor-label count, ties to the SMALLEST "
    "label, synchronous sweeps), which is what makes a full value-hash "
    "oracle possible — one (vote, argmax) CTE pair per sweep, ALL "
    "integer arithmetic (the only doubles are the final modularity "
    "division). Completes the graph-analytics family: components "
    "(from scratch/incremental), centrality (PageRank), "
    "structure (triangles), and now communities. Scale: each sweep is "
    "one label-vector join + one (node, label) count + a per-node "
    "argmax window whose fan-in is bounded by distinct neighbor "
    "labels; community stats are two hash joins of O(nodes) frames.",
    skip_bench=True,  # 3 sweeps x (join+window) on the sf0.1 purchase
    # graph ~ triangle-scale work
)
def purchase_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("a"),
            (F.col("l_suppkey") + 1000000).cast("long").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds LPA, m, internal edges, degrees
    )
    labels = label_propagation(raw, "a", "b", iterations=3)
    sym = raw.union(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mt = raw.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    mem = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    la = labels.select(F.col("node").alias("a"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("lbl").alias("lb"))
    # label-vector joins are O(nodes) x O(edges) — shuffle-hash at scale;
    # the per-community frames (mem/ds/ie) are O(communities) — broadcast
    ie = (
        raw.join(la.hint("shuffle_hash"), "a")
        .join(lb.hint("shuffle_hash"), "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("internal"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ds = (
        deg.join(labels.hint("shuffle_hash"), "node")
        .groupBy("lbl")
        .agg(F.sum("d").cast("bigint").alias("dsum"))
    )
    out = (
        mem.join(F.broadcast(ds), "lbl")
        .join(F.broadcast(ie), "lbl", "left")
        .crossJoin(F.broadcast(mt))
        .select(
            F.col("lbl").alias("community"),
            "n_members",
            F.coalesce(F.col("internal"), F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            F.col("dsum").alias("degree_sum"),
            F.round(
                F.coalesce(F.col("internal"), F.lit(0)).cast("double")
                / F.col("m")
                - (F.col("dsum").cast("double") / (2 * F.col("m")))
                * (F.col("dsum").cast("double") / (2 * F.col("m"))),
                6,
            ).alias("modularity_term"),
        )
    )
    return out.orderBy(
        F.col("n_members").desc(), F.col("community").asc()
    ).limit(20)


_TREND_SLOPE = (
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
)


@query(
    "event_type_trend_slopes",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    x AS (
        SELECT event_type, cnt,
               CAST(day - (SELECT min(CAST(ts AS DATE)) FROM events)
                    AS BIGINT) AS xi
        FROM daily
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xi) AS BIGINT) AS sx,
               CAST(sum(cnt) AS BIGINT) AS sy,
               CAST(sum(xi * xi) AS BIGINT) AS sxx,
               CAST(sum(xi * cnt) AS BIGINT) AS sxy
        FROM x GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           round({_TREND_SLOPE}, 4) AS slope_per_day,
           round((CAST(sy AS DOUBLE) - {_TREND_SLOPE} * sx) / n, 4)
               AS intercept,
           CASE WHEN {_TREND_SLOPE} > 0 THEN 'up'
                WHEN {_TREND_SLOPE} < 0 THEN 'down'
                ELSE 'flat' END AS direction
    FROM s WHERE n >= 2
    """,
    description="Per-type volume trend: least-squares slope of daily event "
    "count on day index, per event type — the grouped-OLS trend "
    "primitive behind capacity forecasts and 'which event stream is "
    "growing' dashboards (complements CUSUM's level-shift detection "
    "with a direction + rate estimate). Every regression input is an "
    "EXACT BIGINT power sum (day indexes and counts are integers — no "
    "decimal staging needed, unlike the log-space Zipf fit); doubles "
    "enter only in the final fixed slope/intercept expression, written "
    "identically in both dialects. Scale: one shuffle to the daily "
    "pre-agg, one tiny agg per type; the global min-day anchor is a "
    "broadcast scalar.",
)
def event_type_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    anchor = ev.agg(F.min(F.col("ts").cast("date")).alias("day0"))
    x = daily.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "cnt",
        F.datediff(F.col("day"), F.col("day0")).cast("bigint").alias("xi"),
    )
    s = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum("cnt").cast("bigint").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("bigint").alias("sxx"),
        F.sum(F.col("xi") * F.col("cnt")).cast("bigint").alias("sxy"),
    )
    slope = f"round({_TREND_SLOPE}, 4)"
    intercept = f"round((CAST(sy AS DOUBLE) - {_TREND_SLOPE} * sx) / n, 4)"
    return s.filter(F.col("n") >= 2).selectExpr(
        "event_type",
        "n AS n_days",
        f"{slope} AS slope_per_day",
        f"{intercept} AS intercept",
        f"CASE WHEN {_TREND_SLOPE} > 0 THEN 'up' "
        f"WHEN {_TREND_SLOPE} < 0 THEN 'down' ELSE 'flat' END AS direction",
    )


_BENFORD = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}
_BENFORD_CASE = (
    # CAST: bare decimal literals promote differently (Spark decimal(6,6)
    # vs DuckDB decimal(7,6)) — the dual-dialect decimal-literal gotcha
    "CAST(CASE d "
    + " ".join(f"WHEN {k} THEN {v}" for k, v in _BENFORD.items())
    + " END AS DOUBLE)"
)


@query(
    "benford_price_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
        SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts)
    SELECT d AS digit, n_obs,
           round(CAST(n_obs AS DOUBLE) / n, 4) AS obs_share,
           {_BENFORD_CASE} AS benford_p,
           round(CAST(n_obs AS DOUBLE) / n - {_BENFORD_CASE}, 4) AS deviation,
           round((CAST(n_obs AS DOUBLE) - n * {_BENFORD_CASE})
                 * (CAST(n_obs AS DOUBLE) - n * {_BENFORD_CASE})
                 / (n * {_BENFORD_CASE}), 4) AS chi2_term
    FROM counts CROSS JOIN tot
    """,
    description="Benford's-law first-digit audit of order totals: observed "
    "leading-digit shares vs the log10(1+1/d) expectation, with "
    "per-digit deviation and chi-square terms — the forensic "
    "data-quality screen for fabricated or clipped monetary columns "
    "(synthetic uniform-range prices fail it loudly, which is the "
    "point of an audit). The leading digit is taken from the BIGINT "
    "decimal string — no log10 on data, so no transcendental parity "
    "risk; the nine Benford expectations are shared rounded literals "
    "in both dialects. Scale: one scan -> 9-group hash agg; "
    "everything after is O(9) with the total broadcast.",
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    tot = counts.agg(F.sum("n_obs").cast("bigint").alias("n"))
    bp = F.expr(_BENFORD_CASE)
    share = F.col("n_obs").cast("double") / F.col("n")
    dev = F.col("n_obs").cast("double") - F.col("n") * bp
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("digit"),
        "n_obs",
        F.round(share, 4).alias("obs_share"),
        bp.alias("benford_p"),
        F.round(share - bp, 4).alias("deviation"),
        F.round(dev * dev / (F.col("n") * bp), 4).alias("chi2_term"),
    )


@query(
    "segment_conversion_ztest",
    oracle="""
    WITH u AS (
        SELECT e.user_id,
               max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events e GROUP BY e.user_id
    ),
    seg AS (
        SELECT c.c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n1,
               CAST(sum(u.converted) AS BIGINT) AS x1
        FROM u JOIN customer c ON c.c_custkey = u.user_id
        GROUP BY c.c_mktsegment
    ),
    tot AS (SELECT CAST(sum(n1) AS BIGINT) AS n,
                   CAST(sum(x1) AS BIGINT) AS x
            FROM seg)
    SELECT segment, n1 AS n_users, x1 AS n_converted,
           round(CAST(x1 AS DOUBLE) / n1, 4) AS conv_rate,
           round(CASE WHEN n > n1 THEN CAST(x - x1 AS DOUBLE) / (n - n1)
                      ELSE 0.0 END, 4) AS rest_rate,
           round(CASE WHEN x > 0 AND x < n AND n > n1 THEN
                 (CAST(x1 AS DOUBLE) / n1 - CAST(x - x1 AS DOUBLE) / (n - n1))
                 / sqrt((CAST(x AS DOUBLE) / n) * (1 - CAST(x AS DOUBLE) / n)
                        * (1.0 / n1 + 1.0 / (n - n1)))
                 ELSE 0.0 END, 4) AS z_score,
           CASE WHEN x > 0 AND x < n AND n > n1 AND
                abs((CAST(x1 AS DOUBLE) / n1
                     - CAST(x - x1 AS DOUBLE) / (n - n1))
                 / sqrt((CAST(x AS DOUBLE) / n) * (1 - CAST(x AS DOUBLE) / n)
                        * (1.0 / n1 + 1.0 / (n - n1)))) > 1.96
                THEN 1 ELSE 0 END AS significant
    FROM seg CROSS JOIN tot
    """,
    description="Two-proportion z-test of purchase conversion per market "
    "segment vs the rest of the user base (pooled-variance form, "
    "alpha=0.05 two-sided) — the experimentation/cohort-comparison "
    "primitive: 'does this segment convert differently, or is it "
    "noise'. Conversion is a per-user flag (any purchase event) "
    "aggregated once; segment counts come from one broadcast join to "
    "the customer dim. All inputs to the z arithmetic are exact "
    "BIGINT counts; the z itself is one fixed double sequence "
    "(identical in both dialects, sqrt included), so the value-hash "
    "compare is exact. Scale: per-user flag agg is one shuffle on "
    "user_id; everything after is O(segments) with the pooled totals "
    "broadcast.",
)
def segment_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    seg = (
        # size-owned join strategy: customer grows with SF (r10 audit)
        u.join(cust, u.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n1"),
            F.sum("converted").cast("bigint").alias("x1"),
        )
    )
    tot = seg.agg(
        F.sum("n1").cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("x"),
    )
    # degenerate designs (all/none converted, or a cohort that IS the
    # population) have zero pooled variance — define z = 0 there instead
    # of dividing by zero (ANSI Spark throws; DuckDB would emit inf)
    ok = (
        (F.col("x") > 0)
        & (F.col("x") < F.col("n"))
        & (F.col("n") > F.col("n1"))
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.when(
        F.col("n") > F.col("n1"),
        (F.col("x") - F.col("x1")).cast("double")
        / (F.col("n") - F.col("n1")),
    ).otherwise(F.lit(0.0))
    pp = F.col("x").cast("double") / F.col("n")
    z = F.when(
        ok,
        (p1 - p2)
        / F.sqrt(
            pp
            * (1 - pp)
            * (1.0 / F.col("n1") + 1.0 / (F.col("n") - F.col("n1")))
        ),
    ).otherwise(F.lit(0.0))
    return seg.crossJoin(F.broadcast(tot)).select(
        "segment",
        F.col("n1").alias("n_users"),
        F.col("x1").alias("n_converted"),
        F.round(p1, 4).alias("conv_rate"),
        F.round(p2, 4).alias("rest_rate"),
        F.round(z, 4).alias("z_score"),
        F.when(ok & (F.abs(z) > 1.96), 1).otherwise(0).alias("significant"),
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               sum(CAST(o_totalprice AS DECIMAL(38,10))) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               ntile(4) OVER (ORDER BY last_order ASC, o_custkey ASC) AS r,
               ntile(4) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f,
               ntile(4) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m
        FROM rfm
    )
    SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f,
           CAST(m AS INTEGER) AS m,
           CAST(count(*) AS BIGINT) AS n_customers,
           CASE WHEN r = 4 AND f = 4 AND m = 4 THEN 'champion'
                WHEN r = 1 AND f >= 3 THEN 'at_risk'
                WHEN r >= 3 AND f <= 2 THEN 'promising'
                ELSE 'regular' END AS segment
    FROM scored GROUP BY r, f, m
    """,
    description="RFM customer segmentation (recency / frequency / "
    "monetary quartiles -> named segments) — the classic warehouse "
    "cohorting op: one per-customer aggregate, three EXACT ntile(4) "
    "scores with deterministic id tie-breaks, 4x4x4 cell counts with "
    "the champion/at-risk/promising labeling rule. Monetary "
    "accumulates in DECIMAL so quartile boundaries can't flip on float "
    "summation order. Scale: the naive form is three single-task "
    "ntile windows over the per-customer frame — O(customers) through "
    "ONE core, the exact shape the global-window sweep forbids at "
    "corpus scale. Instead each score is an exact rank from the "
    "distributed prefix-sum (ops.relational.global_running_sum — one "
    "range shuffle per score, every partition in parallel) and ntile "
    "is recovered closed-form from (rank, n): the first n%4 buckets "
    "take ceil(n/4) rows, the rest floor(n/4) — bit-identical to the "
    "oracle's ntile() at every n (remainder classes property-tested "
    "against DuckDB). The oracle keeps the idiomatic ntile() text; "
    "Spark pays three range exchanges of the already-aggregated "
    "customer frame instead of three serial sorts.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    orders = _t(spark, sf_dir, "orders")
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias(
                "monetary"
            ),
        )
        # numeric twins for the range-partitioned ranks: epoch-day for
        # the date, exact integral cents for the decimal (totalprice
        # has 2 decimals, so *100 is exact) — same total order as the
        # originals, approxQuantile-compatible first key
        .withColumn(
            "rec_days",
            F.datediff("last_order", F.lit("1970-01-01")).cast("bigint"),
        )
        .withColumn(
            "mon_cents", (F.col("monetary") * 100).cast("bigint")
        )
        .withColumn("one", F.lit(1).cast("bigint"))
    )
    ranked = global_running_sum(
        rfm, order_by=["rec_days", "o_custkey"], value_col="one",
        out_col="rank_r",
    )
    ranked = global_running_sum(
        ranked, order_by=["frequency", "o_custkey"], value_col="one",
        out_col="rank_f",
    )
    ranked = global_running_sum(
        ranked, order_by=["mon_cents", "o_custkey"], value_col="one",
        out_col="rank_m",
    )
    tot = rfm.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def _ntile4(rank_col: str):
        # exact ntile(4) from the 1-indexed rank: 0-indexed i = rank-1;
        # first n%4 buckets take q+1 = n//4+1 rows, the rest q. When
        # n<4 (q=0) every row satisfies i<big, but the otherwise-branch
        # is still evaluated eagerly — keep its divisor total.
        i = F.col(rank_col) - 1
        q = F.floor(F.col("n") / 4)
        r = F.col("n") % 4
        big = r * (q + 1)
        return (
            F.when(i < big, F.floor(i / (q + 1)))
            .otherwise(r + F.floor((i - big) / F.greatest(q, F.lit(1))))
            + 1
        ).cast("int")

    scored = ranked.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        _ntile4("rank_r").alias("r"),
        _ntile4("rank_f").alias("f"),
        _ntile4("rank_m").alias("m"),
    )
    seg = (
        F.when((F.col("r") == 4) & (F.col("f") == 4) & (F.col("m") == 4), "champion")
        .when((F.col("r") == 1) & (F.col("f") >= 3), "at_risk")
        .when((F.col("r") >= 3) & (F.col("f") <= 2), "promising")
        .otherwise("regular")
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    ).select("r", "f", "m", "n_customers", seg.alias("segment"))


@query(
    "scd2_enriched_event_stats",
    oracle="""
    WITH dimsrc AS (
        SELECT o_custkey AS k, o_orderdate AS vf, o_orderpriority AS prio,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders
    ),
    dim AS (SELECT k, vf, prio FROM dimsrc WHERE rn = 1),
    cur AS (
        SELECT prio, CAST(count(*) AS BIGINT) AS n_current_customers
        FROM (SELECT k, prio, row_number() OVER (
                  PARTITION BY k ORDER BY vf DESC) AS rn FROM dim)
        WHERE rn = 1 GROUP BY prio
    ),
    enriched AS (
        SELECT e.value, d.prio
        FROM events e ASOF JOIN dim d
          ON e.user_id = d.k AND e.ts >= d.vf
    ),
    agg AS (
        SELECT prio AS priority,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
                   AS total_value
        FROM enriched GROUP BY prio
    )
    SELECT a.priority, a.n_events, a.total_value,
           CAST(coalesce(c.n_current_customers, 0) AS BIGINT)
               AS n_current_customers
    FROM agg a LEFT JOIN cur c ON c.prio = a.priority
    """,
    description="SCD TYPE-2 dimension + point-in-time fact enrichment — "
    "the slowly-changing-dimension upgrade of the reference's "
    "latest-wins SCD1 dim (03_silver_smartpool.py:14-20): customer "
    "attribute changes (order priority per order date, deduped "
    "latest-per-day) become validity-interval versions, every event is "
    "enriched with the attribute THAT WAS CURRENT AT EVENT TIME via the "
    "as-of join (one keys-shuffle union-tag window — never an interval "
    "theta join), and the rollup reports per-priority event mass beside "
    "the count of customers whose CURRENT version carries that priority "
    "(the is_current slice of the dim). Oracle uses DuckDB's native "
    "ASOF JOIN — an independent implementation of the interval "
    "semantics, so green proves the SCD2 lookup, not a replay. The "
    "point-in-time correctness this gives (no attribute leakage from "
    "the future) is the feature-store contract ML training joins need.",
)
def scd2_enriched_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    from smartpool_bigdata_spark.functions import stable_sum
    from smartpool_bigdata_spark.ops.relational import asof_join

    orders = _t(spark, sf_dir, "orders")
    dim = (
        orders.select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("vf"),
            F.col("o_orderpriority").alias("prio"),
            F.row_number()
            .over(
                _W.partitionBy("o_custkey", "o_orderdate").orderBy(
                    F.col("o_orderkey").desc()
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=False)  # feeds the as-of join AND the current slice
    )
    cur = (
        dim.withColumn(
            "rn",
            F.row_number().over(_W.partitionBy("k").orderBy(F.col("vf").desc())),
        )
        .filter(F.col("rn") == 1)
        .groupBy("prio")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_current_customers"))
    )
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "ts", "value"
    )
    enriched = asof_join(
        ev, dim, keys=["k"], left_ts="ts", right_ts="vf", value_cols=["prio"]
    ).filter(F.col("prio").isNotNull())
    agg = enriched.groupBy(F.col("prio").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        stable_sum("value", 2).alias("total_value"),
    )
    return agg.join(
        F.broadcast(cur), agg["priority"] == cur["prio"], "left"
    ).select(
        "priority",
        "n_events",
        "total_value",
        F.coalesce("n_current_customers", F.lit(0))
        .cast("bigint")
        .alias("n_current_customers"),
    )


@query(
    "snapshot_diff_stats",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 != 0
    ),
    rev AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 != 0
    ),
    tagged AS (
        SELECT o_orderkey, md5(CAST(o_totalprice AS VARCHAR)) AS h,
               1 AS b, 0 AS r FROM base
        UNION ALL
        SELECT o_orderkey, md5(CAST(o_totalprice AS VARCHAR)), 0, 1 FROM rev
    ),
    per_key AS (
        SELECT o_orderkey, sum(b) AS nb, sum(r) AS nr,
               count(DISTINCT h) AS nh
        FROM tagged GROUP BY o_orderkey
    )
    SELECT
        CAST(sum(CASE WHEN nb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        CAST(sum(CASE WHEN nr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        CAST(sum(CASE WHEN nb > 0 AND nr > 0 AND nh > 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_changed,
        CAST(sum(CASE WHEN nb > 0 AND nr > 0 AND nh = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_unchanged
    FROM per_key
    """,
    description="Snapshot diff / sync-validation WITHOUT a join: two "
    "table versions (simulated: keys dropped by one filter, added by "
    "another, a third of surviving prices revised) are tagged +base/+rev "
    "and reconciled in ONE hash aggregate per key — side counts plus a "
    "distinct row-hash count classify every key as added / removed / "
    "changed / unchanged. The shape matters at 100 TB: a full-outer "
    "join (the naive diff) is the one plan Spark can only SortMergeJoin; "
    "the union+groupBy form is a single uniform key shuffle with "
    "map-side partials and no join at all — the same trick the exact "
    "dedup family uses. Complements the change feed: CDF diffs what a "
    "MERGE did; this diffs two arbitrary snapshots after the fact "
    "(backfill audits, cross-system sync checks).",
)
def snapshot_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_totalprice",
        F.lit(1).alias("b"),
        F.lit(0).alias("r"),
    )
    rev = (
        orders.filter(F.col("o_orderkey") % 7 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 10.0
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            F.lit(0).alias("b"),
            F.lit(1).alias("r"),
        )
    )
    tagged = base.unionByName(rev).select(
        "o_orderkey",
        F.md5(F.col("o_totalprice").cast("string")).alias("h"),
        "b",
        "r",
    )
    per_key = tagged.groupBy("o_orderkey").agg(
        F.sum("b").alias("nb"),
        F.sum("r").alias("nr"),
        F.countDistinct("h").alias("nh"),
    )
    return per_key.agg(
        F.sum(F.when(F.col("nb") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
        F.sum(F.when(F.col("nr") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(
            F.when((F.col("nb") > 0) & (F.col("nr") > 0) & (F.col("nh") > 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_changed"),
        F.sum(
            F.when((F.col("nb") > 0) & (F.col("nr") > 0) & (F.col("nh") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_unchanged"),
    )


@query(
    "events_profile_summary",
    oracle="""
    SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(min(event_id) AS DOUBLE) AS min_num,
           CAST(max(event_id) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_text, CAST(NULL AS VARCHAR) AS max_text
    FROM events
    UNION ALL
    SELECT 'ts', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(ts) AS BIGINT),
           CAST(count(DISTINCT ts) AS BIGINT),
           epoch(min(ts)), epoch(max(ts)), NULL, NULL
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(user_id) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
           NULL, NULL
    FROM events
    UNION ALL
    SELECT 'value', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(value) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT),
           round(min(value), 4), round(max(value), 4), NULL, NULL
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(event_type) AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(event_type), max(event_type)
    FROM events
    UNION ALL
    SELECT 'props', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(props) AS BIGINT),
           CAST(count(DISTINCT props) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(props), max(props)
    FROM events
    """,
    description="Table profiling (the ANALYZE TABLE COMPUTE "
    "STATISTICS FOR ALL COLUMNS / df.summary() analog, with EXACT "
    "distincts so it is value-lockable): ONE scan, materialized once "
    "(lazy checkpoint), feeds a rows/nulls/min/max aggregate plus six "
    "per-column two-level distinct aggregates (partial distinct-by-"
    "value map-side, tiny value shuffle, count) whose 1-row results "
    "broadcast back; a row-local stack unpivots to one row per column. "
    "r13: this replaces the single 6-way count-DISTINCT Expand (6x "
    "null-padded row fan-out through one wide-keyed aggregate — "
    "verdict #7); the narrow single-column keys hash ~6x cheaper and "
    "the branches run as independent stages. Numeric/timestamp columns "
    "profile numerically (epoch seconds for ts), string columns "
    "textually. The oracle's 6 UNION ALL scans are the semantic spec. "
    "At 100 TB the checkpoint's role is played by a profile staging "
    "table, and the exact distincts swap for approx_count_distinct/KMV "
    "(§SCALE) — same shape, sketch partials.",
)
def events_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (guide §2, verdict #7): the 6-way count-DISTINCT planned as a
    # single Expand — a 6x row fan-out through one wide-keyed hash
    # aggregate that measured 54 executor-seconds at sf0.1 (the r12 _ts
    # spread only parallelized it). The scan is now materialized once
    # (lazy checkpoint, inside the timed action) and each column's exact
    # distinct runs as its own two-level aggregate over the cached rows:
    # partial distinct-by-value map-side, tiny value shuffle, count —
    # the narrow single-column keys hash ~6x cheaper than the Expand's
    # null-padded 7-field rows, and the six branches run as independent
    # stages. Measured 2.4 -> 2.0 s, rows identical. At 100 TB the
    # checkpoint's role is played by the profile staging table (the
    # signature-table pattern): materialize the scan once, profile from
    # the materialization, never 6 raw scans.
    ev = _ts(spark, sf_dir, "events").localCheckpoint(eager=False)
    num_cols = ["event_id", "user_id"]
    agg_exprs = []
    for c in ("event_id", "ts", "user_id", "value", "event_type", "props"):
        agg_exprs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
        ]
        if c in num_cols:
            agg_exprs += [
                F.min(c).cast("double").alias(f"{c}__min"),
                F.max(c).cast("double").alias(f"{c}__max"),
            ]
        elif c == "ts":
            # NTZ → epoch seconds: unix_micros over the UTC-session LTZ
            # cast, /1e6 as double — the same µs/1e6 division DuckDB's
            # epoch() performs, so the doubles are bit-identical
            agg_exprs += [
                (F.unix_micros(F.min(c).cast("timestamp_ltz")) / F.lit(1e6))
                .alias(f"{c}__min"),
                (F.unix_micros(F.max(c).cast("timestamp_ltz")) / F.lit(1e6))
                .alias(f"{c}__max"),
            ]
        elif c == "value":
            agg_exprs += [
                F.round(F.min(c), 4).alias(f"{c}__min"),
                F.round(F.max(c), 4).alias(f"{c}__max"),
            ]
        else:
            agg_exprs += [
                F.min(c).alias(f"{c}__mint"),
                F.max(c).alias(f"{c}__maxt"),
            ]
    one = ev.agg(*agg_exprs)
    for c in ("event_id", "ts", "user_id", "value", "event_type", "props"):
        nd = (
            ev.select(c)
            .where(F.col(c).isNotNull())  # count(DISTINCT c) skips NULLs
            .distinct()
            .agg(F.count(F.lit(1)).alias(f"{c}__nd"))
        )
        one = one.crossJoin(F.broadcast(nd))
    rows = []
    for c in ("event_id", "ts", "user_id", "value"):
        rows.append(
            f"'{c}', {c}__rows, {c}__nulls, {c}__nd, "
            f"{c}__min, {c}__max, CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for c in ("event_type", "props"):
        rows.append(
            f"'{c}', {c}__rows, {c}__nulls, {c}__nd, "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), {c}__mint, {c}__maxt"
        )
    stacked = ", ".join(rows)
    return one.select(
        F.expr(
            f"stack(6, {stacked}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, "
            "min_num, max_num, min_text, max_text)"
        )
    )


@query(
    "copurchase_triangle_stats",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT b1.p AS a, b2.p AS b
          FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
            GROUP BY n),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
            FROM deg),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           round(CASE WHEN n_wedges > 0
                      THEN 3.0 * n_triangles / CAST(n_wedges AS DOUBLE)
                      ELSE 0.0 END, 6) AS clustering_coeff
    FROM agg, ne, tri
    """,
    description="Triangle counting + global clustering coefficient over "
    "the co-purchase item graph (parts sharing an order), via the "
    "DEGREE-ORDERED compact-forward algorithm: every edge is oriented "
    "from its lower-(degree, id) endpoint to the higher, wedges are "
    "joined on the shared low endpoint, and each candidate closes "
    "against the oriented edge list — so each triangle is counted "
    "exactly once and per-node join fan-out is bounded by ORIENTED "
    "degree (O(sqrt(m)) on any graph), the property that makes triangle "
    "counting feasible on power-law graphs where the naive wedge join "
    "explodes on hub nodes. Edge construction itself is bounded: the "
    "order self-join fans out at most basket-size^2 per order. The "
    "oracle counts a<b<c ordered triples directly — an independent "
    "algorithm, so agreement checks the orientation logic, not just "
    "replay. Clustering coeff = 3*triangles/wedges.",
    skip_bench=True,  # 1.2M-edge graph at sf0.1 (~15 s) — profiling-scale
    # work like doc_char_jaccard_pairs
)
def copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    li2 = li.select(F.col("o"), F.col("p").alias("p2"))
    edges = (
        li.join(li2, "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("a"), F.col("p2").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds degrees, orientation and closure
    )
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=False)
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    ranked = edges.join(da, "a").join(db, "b")
    # orient low (degree, id) -> high; ties broken by node id
    oriented = ranked.select(
        F.when(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
            F.struct(F.col("a").alias("src"), F.col("b").alias("dst"),
                     F.col("da").alias("ds"), F.col("db").alias("dd")),
        )
        .otherwise(
            F.struct(F.col("b").alias("src"), F.col("a").alias("dst"),
                     F.col("db").alias("ds"), F.col("da").alias("dd"))
        )
        .alias("e")
    ).select("e.src", "e.dst", "e.ds", "e.dd").localCheckpoint(eager=False)
    w1 = oriented.select("src", F.col("dst").alias("v"),
                         F.col("dd").alias("dv"))
    w2 = oriented.select("src", F.col("dst").alias("w"),
                         F.col("dd").alias("dw"))
    wedges = w1.join(w2, "src").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closure = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closure, ["v", "w"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("bigint").alias("n_wedges"),
    )
    ne = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        agg.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges").cast("double"),
                ).otherwise(0.0),
                6,
            ).alias("clustering_coeff"),
        )
    )


@query(
    "basket_association_rules",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l.l_orderkey AS o, p.p_name AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM b),
    supp AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
             FROM b GROUP BY item),
    pairs AS (
        SELECT b1.item AS item_a, b2.item AS item_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.item < b2.item
        GROUP BY b1.item, b2.item
    )
    SELECT item_a, item_b, n_ab, sa.n_item AS n_a, sb.n_item AS n_b,
           round(CAST(n_ab AS DOUBLE) / n_orders, 4) AS support,
           round(CAST(n_ab AS DOUBLE) / sa.n_item, 4) AS conf_a_b,
           round(CAST(n_ab AS DOUBLE) / sb.n_item, 4) AS conf_b_a,
           round(CAST(n_ab AS DOUBLE) * n_orders
                 / (CAST(sa.n_item AS DOUBLE) * sb.n_item), 4) AS lift
    FROM pairs
    JOIN supp sa ON pairs.item_a = sa.item
    JOIN supp sb ON pairs.item_b = sb.item
    CROSS JOIN n
    WHERE n_ab >= 3
    ORDER BY CAST(n_ab AS DOUBLE) * n_orders
             / (CAST(sa.n_item AS DOUBLE) * sb.n_item) DESC,
             item_a, item_b
    LIMIT 20
    """,
    description="Market-basket association rules over order baskets at "
    "item (p_name) granularity: pair support, directional confidence "
    "and lift, top-20 by lift — the classic affinity-analysis operator "
    "(Apriori's 2-itemset stage) behind recommendations and bundle "
    "pricing. Scale: pair generation is a self-join on the order key "
    "whose fan-out is bounded by basket_size² per order (never item² "
    "globally); pair counts are one shuffle on (item_a, item_b); the "
    "support join-back touches only surviving pairs; top-20 is "
    "TakeOrderedAndProject (no global sort). The min-support filter "
    "(n_ab >= 3) is what keeps the rule table sparse at scale — the "
    "long tail of singleton pairs dies before the join-back. "
    "Deterministic across engines: lift is one integer-ratio double "
    "computed identically, ties broken by the unique (item_a, item_b).",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    b = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_name").alias("item"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds N, supports and pairs
    )
    n_orders_row = b.agg(
        F.countDistinct("o").cast("bigint").alias("n_orders")
    )
    supp = b.groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    b2 = b.select(F.col("o"), F.col("item").alias("item_b"))
    pairs = (
        # shuffle-hash: both sides are the basket relation (big at scale);
        # SMJ would sort both for no benefit — pairs are re-aggregated anyway.
        b.join(b2.hint("shuffle_hash"), "o")
        .filter(F.col("item") < F.col("item_b"))
        .groupBy(F.col("item").alias("item_a"), "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    sa = supp.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a"))
    sb = supp.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b"))
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n_orders")
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n_orders_row))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.col("n_ab").cast("double") / F.col("n_orders"), 4).alias(
                "support"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_a"), 4).alias(
                "conf_a_b"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_b"), 4).alias(
                "conf_b_a"
            ),
            F.round(lift, 4).alias("lift"),
            lift.alias("__lift_raw"),
        )
        .orderBy(F.col("__lift_raw").desc(), "item_a", "item_b")
        .limit(20)
        .drop("__lift_raw")
    )


def _ams_oracle() -> str:
    from smartpool_bigdata_spark.ops.text import duck_hash64

    sgn_a = duck_hash64("(CAST(j AS VARCHAR) || '|' || CAST(k AS VARCHAR))")
    return f"""
    WITH fa AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS f
                FROM events GROUP BY user_id),
    fb AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS f
           FROM orders GROUP BY o_custkey),
    exact AS (SELECT CAST(sum(fa.f * fb.f) AS BIGINT) AS exact_pairs
              FROM fa JOIN fb USING (k)),
    sa AS (
        SELECT j, CAST(sum(f * (1 - 2 * ({sgn_a} % 2))) AS BIGINT) AS s
        FROM (SELECT k, f, unnest(range(0, 64)) AS j FROM fa)
        GROUP BY j
    ),
    sb AS (
        SELECT j, CAST(sum(f * (1 - 2 * ({sgn_a} % 2))) AS BIGINT) AS s
        FROM (SELECT k, f, unnest(range(0, 64)) AS j FROM fb)
        GROUP BY j
    ),
    means AS (
        SELECT sa.j // 8 AS g,
               CAST(sum(sa.s * sb.s) AS DOUBLE) / 8 AS m
        FROM sa JOIN sb ON sa.j = sb.j
        GROUP BY sa.j // 8
    ),
    med AS (
        SELECT round(CAST(sum(CASE WHEN rn IN (4, 5) THEN
                                   CAST(m AS DECIMAL(38,10)) ELSE 0 END)
                     AS DOUBLE) / 2, 4) AS ams_estimate
        FROM (SELECT m, row_number() OVER (ORDER BY m ASC) AS rn FROM means)
    ),
    ka AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_a FROM fa),
    kb AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_b FROM fb)
    SELECT exact_pairs, ams_estimate,
           round(abs(ams_estimate - exact_pairs)
                 / CAST(exact_pairs AS DOUBLE), 4) AS rel_err,
           n_keys_a, n_keys_b
    FROM exact, med, ka, kb
    """


@query(
    "join_size_ams_estimate",
    oracle=_ams_oracle(),
    description="AMS / Tug-of-War sketch join-size estimation (Alon-"
    "Matias-Szegedy '96): |events JOIN orders ON user_id = o_custkey| "
    "= sum_k fA(k)*fB(k) is estimated from two 64-coordinate +-1 sign "
    "sketches — S[j] = sum_k f(k)*sign(j,k) — via the median of 8 "
    "means of 8 coordinate products, next to the EXACT count and its "
    "relative error; the cardinality-estimation primitive a planner "
    "uses to size a join before paying for it, and the natural "
    "completion of the sketch algebra (KMV=distinct, CMS=frequency, "
    "Bloom=membership, AMS=join size / F2). Signs are md5-derived, so "
    "the oracle rebuilds sketch AND estimate bit-for-bit. Scale: both "
    "frequency tables come from one key-agg shuffle each; the 64x "
    "coordinate explode runs over the PRE-AGGREGATED key tables with "
    "map-side partial sums, and everything after is O(64) rows — the "
    "exact side joins the two aggregated tables, never the raw facts.",
)
def join_size_ams_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.text import spark_hash64

    sgn = (
        "(1 - 2 * ("
        + spark_hash64("concat(cast(j as string), '|', cast(k as string))")
        + " % 2))"
    )
    fa = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    fb = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    fa = fa.localCheckpoint(eager=False)  # feeds exact, sketch and key-count
    fb = fb.localCheckpoint(eager=False)
    exact = fa.join(fb, "k").agg(
        F.sum(fa["f"] * fb["f"]).cast("bigint").alias("exact_pairs")
    )

    def _sketch(freq: DataFrame) -> DataFrame:
        return (
            freq.select("k", "f", F.explode(F.expr("sequence(0, 63)")).alias("j"))
            .groupBy("j")
            .agg(F.sum(F.expr(f"f * {sgn}")).cast("bigint").alias("s"))
        )

    sa = _sketch(fa).withColumnRenamed("s", "sa")
    sb = _sketch(fb).withColumnRenamed("s", "sb")
    means = (
        sa.join(sb, "j")
        .groupBy((F.col("j") / 8).cast("int").alias("g"))
        .agg(
            (F.sum(F.col("sa") * F.col("sb")).cast("double") / 8).alias("m")
        )
    )
    from pyspark.sql import Window as _W

    med = (
        means.withColumn("rn", F.row_number().over(_W.orderBy(F.col("m").asc())))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("rn").isin(4, 5), F.col("m").cast("decimal(38,10)"))
                    .otherwise(F.lit(0).cast("decimal(38,10)"))
                ).cast("double")
                / 2,
                4,
            ).alias("ams_estimate")
        )
    )
    ka = fa.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys_a"))
    kb = fb.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys_b"))
    return (
        exact.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(ka))
        .crossJoin(F.broadcast(kb))
        .select(
            "exact_pairs",
            "ams_estimate",
            F.round(
                F.abs(F.col("ams_estimate") - F.col("exact_pairs"))
                / F.col("exact_pairs").cast("double"),
                4,
            ).alias("rel_err"),
            "n_keys_a",
            "n_keys_b",
        )
    )


_SIM_CAP = 64  # stop-item prune: drop parts with more distinct buyers


@query(
    "customer_similarity_topk",
    oracle=f"""
    WITH vec AS (
        SELECT o_custkey AS c, l_partkey AS p, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    ),
    keep AS (
        SELECT p FROM vec GROUP BY p HAVING count(*) <= {_SIM_CAP}
    ),
    pv AS (SELECT vec.* FROM vec JOIN keep USING (p)),
    norms AS (
        SELECT c, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS nrm
        FROM pv GROUP BY c
    ),
    dots AS (
        SELECT a.c AS cust_a, b.c AS cust_b,
               CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot,
               CAST(count(*) AS BIGINT) AS n_shared_parts
        FROM pv a JOIN pv b ON a.p = b.p AND a.c < b.c
        GROUP BY a.c, b.c
    )
    SELECT cust_a, cust_b, n_shared_parts,
           round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN norms na ON na.c = cust_a
    JOIN norms nb ON nb.c = cust_b
    ORDER BY cosine DESC, cust_a, cust_b LIMIT 50
    """,
    description="Sparse similarity join via inverted index: top-50 most "
    "similar customer pairs by cosine over their purchased-part count "
    "vectors — the item-based-neighborhood collaborative-filtering "
    "primitive, and the SPARSE companion of the dense-embedding ANN "
    "family (knn_*): candidates come from an inverted-index equi-join "
    "on part_id, so only pairs sharing at least one part are ever "
    "scored — never all-pairs. Scale: per-part join fan-out is "
    "(buyers per part)^2, so hub items are the hazard — the classic "
    f"stop-item prune (parts with > {_SIM_CAP} distinct buyers are "
    "dropped from the vector space, the sparse analog of stop-word "
    "removal, applied identically in the oracle) bounds every part's "
    "contribution; dot products are exact integer aggregates; the "
    "global top-50 is a TakeOrderedAndProject. r13 optimization (guide "
    "§2.4/§5, verdict #4): the before-plan carried 58 Exchanges because "
    "vec and pv were re-derived from the scans for every consumer "
    "(keep, norms, and BOTH sides of the pair fan-out each replayed the "
    "lineitem-orders join). vec and pv are now lazily "
    "localCheckpoint-ed — materialized once INSIDE the timed action and "
    "shared (the a x b self-join re-reads the cached pruned vectors "
    "instead of replaying the fact join per side); and the per-customer "
    "norm rides each "
    "vector row via a window over the same c partition (identical "
    "doubles), so the two post-aggregation norm joins — which would "
    "otherwise need either two more pair-table shuffles or a forced "
    "broadcast of an O(customers) frame (the linear-broadcast hazard "
    "the r11 audit removed elsewhere) — disappear entirely.",
)
def customer_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    vec = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # shared by the stop-item prune AND the pruned-vector join;
        # eager=False keeps the materialization inside the timed action
        .localCheckpoint(eager=False)
    )
    keep = vec.groupBy("p").agg(F.count(F.lit(1)).alias("nb")).filter(
        F.col("nb") <= _SIM_CAP
    ).select("p")
    # The vector/pair frames scale with the data, so they are never
    # broadcastable at 100 TB and never need a sort: hint shuffled-hash
    # explicitly rather than letting size estimates pick SortMergeJoin
    # (same post-aggregate-estimate trap corpus_token_budget_selection hit).
    from pyspark.sql import Window

    # The norm is attached to each pruned-vector row by a window over
    # the SAME per-customer partition the old separate norms aggregate
    # used (identical doubles: sqrt of the same bigint sum), so the two
    # post-aggregation norm joins disappear entirely. (No pre-partition
    # on p: AQE's coalesced shuffle degrades a checkpointed frame's
    # outputPartitioning to Unknown, so the self-join re-exchanges its
    # two cached reads either way — two small exchanges of the pruned
    # vectors, not of the raw fact join.)
    wc = Window.partitionBy("c")
    pv = (
        vec.join(keep.hint("shuffle_hash"), "p")
        .withColumn(
            "nrm",
            F.sqrt(
                F.sum(F.col("cnt") * F.col("cnt")).over(wc).cast("double")
            ),
        )
        # shared by both sides of the pair fan-out, computed once
        .localCheckpoint(eager=False)
    )
    a = pv.select(
        F.col("p"),
        F.col("c").alias("cust_a"),
        F.col("cnt").alias("ca"),
        F.col("nrm").alias("na"),
    )
    b = pv.select(
        F.col("p"),
        F.col("c").alias("cust_b"),
        F.col("cnt").alias("cb"),
        F.col("nrm").alias("nb"),
    )
    dots = (
        a.join(b.hint("shuffle_hash"), ["p"])
        .filter(F.col("cust_a") < F.col("cust_b"))
        .groupBy("cust_a", "cust_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared_parts"),
            # na/nb are constant within the (cust_a, cust_b) group —
            # min() selects the exact per-customer norm, no join needed
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    return (
        dots.select(
            "cust_a",
            "cust_b",
            "n_shared_parts",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "cust_a", "cust_b")
        .limit(50)
    )


@query(
    "segment_shipping_priority",
    oracle="""
    WITH rev AS (
      SELECT o.o_orderkey, o.o_orderdate,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(38,10))) AS rev_exact
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      GROUP BY 1, 2
    )
    SELECT o_orderkey, o_orderdate,
           round(CAST(rev_exact AS DOUBLE), 2) AS revenue
    FROM rev ORDER BY rev_exact DESC, o_orderkey LIMIT 10
    """,
    description="TPC-H Q3 shape (shipping priority): top-10 unshipped "
    "orders by outstanding revenue for one market segment. Scale shape: "
    "both date predicates and the segment filter push to the scans "
    "BEFORE the joins (the orders and lineitem sides each shrink ~40% "
    "and ~8x at the source); customer is a broadcast dim; the one real "
    "shuffle is the orders-lineitem hash join on l_orderkey; top-10 is "
    "TakeOrdered on the EXACT decimal revenue (ties broken by key), so "
    "ranking can't flip on float summation order across engines.",
)
def segment_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    agg = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(li.hint("shuffle_hash"), orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.expr(
                    "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))"
                )
            ).alias("rev_exact")
        )
    )
    return (
        agg.orderBy(F.col("rev_exact").desc(), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("rev_exact").cast("double"), 2).alias("revenue"),
        )
    )


@query(
    "returned_item_losses",
    oracle="""
    WITH losses AS (
      SELECT c.c_custkey, c.c_name, n.n_name AS nation,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(38,10))) AS lost_exact,
             CAST(count(*) AS BIGINT) AS n_returned
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE l.l_returnflag = 'R'
      GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, nation, n_returned,
           round(CAST(lost_exact AS DOUBLE), 2) AS lost_revenue
    FROM losses ORDER BY lost_exact DESC, c_custkey LIMIT 20
    """,
    description="TPC-H Q10 shape (returned-item reporting): the 20 "
    "customers who returned the most revenue, with their nation. Scale "
    "shape: the returnflag filter prunes lineitem to ~1/3 at the scan; "
    "lineitem-orders is the one fact-fact hash shuffle; customer and "
    "nation collapse into broadcast dims; top-20 is TakeOrdered on the "
    "exact decimal loss (key tie-break) so ranking is engine-stable.",
)
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
    ).select("c_custkey", "c_name", F.col("n_name").alias("nation"))
    agg = (
        li.join(
            orders.hint("shuffle_hash"), li["l_orderkey"] == orders["o_orderkey"]
        )
        # dim is customer-scale (r10 audit) so a forced broadcast OOMs
        # at cluster scale — but it is also a JOIN output, whose
        # inflated size estimate flips Catalyst to SMJ; shuffle-hash is
        # the strategy that is right at every scale (no sort, no OOM)
        .join(dim.hint("shuffle_hash"), orders["o_custkey"] == dim["c_custkey"])
        .groupBy("c_custkey", "c_name", "nation")
        .agg(
            F.sum(
                F.expr(
                    "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))"
                )
            ).alias("lost_exact"),
            F.count(F.lit(1)).cast("bigint").alias("n_returned"),
        )
    )
    return (
        agg.orderBy(F.col("lost_exact").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "nation",
            "n_returned",
            F.round(F.col("lost_exact").cast("double"), 2).alias("lost_revenue"),
        )
    )


@query(
    "promo_revenue_share",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           round(CAST(100 AS DOUBLE)
                 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                       THEN CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(38,10))
                       ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,10))) AS DOUBLE), 4) AS promo_pct,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY 1
    """,
    description="TPC-H Q14 shape (promotion effect), widened to a "
    "per-month trend: share of revenue from PROMO-type parts. Scale "
    "shape: part is a broadcast dim (the fact table never shuffles "
    "before the aggregate); the conditional revenue split is one CASE "
    "inside a single hash aggregate; both sums accumulate in "
    "decimal(38,10) and divide as doubles only at the end, so the "
    "percentage agrees bit-for-bit across engines.",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))"
    return (
        # size-owned join strategy: part grows with SF (r10 audit)
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month")
        )
        .agg(
            F.round(
                F.lit(100).cast("double")
                * F.sum(
                    F.expr(
                        f"CASE WHEN p_type LIKE 'PROMO%' THEN {rev} "
                        f"ELSE CAST(0 AS DECIMAL(38,10)) END"
                    )
                ).cast("double")
                / F.sum(F.expr(rev)).cast("double"),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        )
        .select("ship_month", "promo_pct", "n_lineitems")
    )


@query(
    "large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             sum(CAST(l_quantity AS DECIMAL(38,10))) AS qty_exact
      FROM lineitem GROUP BY 1
      HAVING sum(CAST(l_quantity AS DECIMAL(38,10))) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           round(CAST(b.qty_exact AS DOUBLE), 2) AS sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    description="TPC-H Q18 shape (large-volume customers): orders whose "
    "total lineitem quantity exceeds 250, with their customer. Scale "
    "shape: the HAVING aggregate reduces lineitem to qualifying order "
    "keys BEFORE any join (the group-then-filter pushaway that keeps "
    "the join input tiny); quantities accumulate in decimal so the "
    "threshold can't flip on float summation order; the orders join is "
    "a hash shuffle on the already-reduced key set and customer is a "
    "broadcast dim.",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(38,10))")).alias(
                "qty_exact"
            )
        )
        .filter(F.col("qty_exact") > 250)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(
            orders.hint("shuffle_hash"), big["l_orderkey"] == orders["o_orderkey"]
        )
        # size-owned join strategy: customer grows with SF (r10 audit)
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("qty_exact").cast("double"), 2).alias("sum_qty"),
        )
    )


@query(
    "daily_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT max(d) AS mxd FROM daily),
    test AS (
        SELECT t.* FROM daily t, mx WHERE t.d > mx.mxd - 7
    ),
    joined AS (
        SELECT t.event_type, t.cnt, n.cnt AS naive_pred, s.cnt AS snaive_pred
        FROM test t
        LEFT JOIN daily n
          ON n.event_type = t.event_type AND n.d = t.d - 1
        LEFT JOIN daily s
          ON s.event_type = t.event_type AND s.d = t.d - 7
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_test_days,
           round(CAST(sum(abs(cnt - naive_pred)) AS DOUBLE)
                 / count(naive_pred), 4) AS naive_mae,
           round(CAST(sum(abs(cnt - snaive_pred)) AS DOUBLE)
                 / count(snaive_pred), 4) AS snaive_mae,
           round(CAST(sum(CASE WHEN snaive_pred IS NOT NULL
                     THEN abs(cnt - snaive_pred) END) AS DOUBLE)
                 / sum(CASE WHEN snaive_pred IS NOT NULL THEN cnt END), 4)
               AS snaive_wape
    FROM joined GROUP BY event_type
    """,
    description="Forecast BACKTEST harness over daily event volumes: the "
    "last 7 days are the holdout, scored against the two baselines every "
    "real forecaster must beat — naive (yesterday's value) and "
    "seasonal-naive (same weekday last week) — reporting per-type MAE "
    "and WAPE. All errors are |BIGINT-BIGINT| summed exactly, divided "
    "as doubles only at the end, so both engines agree bit-for-bit. "
    "Scale shape: everything after the daily pre-agg is O(types x days); "
    "the lag joins are equi-joins of that tiny frame to itself "
    "(broadcast) keyed on shifted dates — no window over the fact table, "
    "no per-row Python. Complements event_type_trend_slopes (direction) "
    "and daily_seasonal_residuals (decomposition) with the evaluation "
    "half of the time-series toolkit.",
)
def daily_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # feeds the test slice AND both lags
    )
    mx = daily.agg(F.max("d").alias("mxd"))
    test = daily.crossJoin(F.broadcast(mx)).filter(
        F.col("d") > F.date_sub(F.col("mxd"), 7)
    )
    naive = daily.select(
        F.col("event_type").alias("ne"),
        F.col("d").alias("nd"),
        F.col("cnt").alias("naive_pred"),
    )
    snaive = daily.select(
        F.col("event_type").alias("se"),
        F.col("d").alias("sd"),
        F.col("cnt").alias("snaive_pred"),
    )
    joined = (
        test.join(
            F.broadcast(naive),
            (F.col("event_type") == F.col("ne"))
            & (F.col("nd") == F.date_sub(F.col("d"), 1)),
            "left",
        )
        .join(
            F.broadcast(snaive),
            (F.col("event_type") == F.col("se"))
            & (F.col("sd") == F.date_sub(F.col("d"), 7)),
            "left",
        )
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_days"),
        F.round(
            F.sum(F.abs(F.col("cnt") - F.col("naive_pred"))).cast("double")
            / F.count("naive_pred"),
            4,
        ).alias("naive_mae"),
        F.round(
            F.sum(F.abs(F.col("cnt") - F.col("snaive_pred"))).cast("double")
            / F.count("snaive_pred"),
            4,
        ).alias("snaive_mae"),
        F.round(
            F.sum(
                F.when(
                    F.col("snaive_pred").isNotNull(),
                    F.abs(F.col("cnt") - F.col("snaive_pred")),
                )
            ).cast("double")
            / F.sum(F.when(F.col("snaive_pred").isNotNull(), F.col("cnt"))),
            4,
        ).alias("snaive_wape"),
    )


@query(
    "segment_pareto_customers",
    oracle="""
    WITH pts AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey AS custkey,
               round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,10)))
                     AS DOUBLE), 2) AS spend,
               max(o.o_orderdate) AS last_order
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
    SELECT segment, custkey, spend, last_order
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.segment = p.segment
          AND q.spend >= p.spend AND q.last_order >= p.last_order
          AND (q.spend > p.spend OR q.last_order > p.last_order)
    )
    """,
    description="2-D Pareto frontier (SKYLINE) per market segment: the "
    "customers for whom no segment peer has BOTH higher total spend and "
    "a more recent order — the multi-objective 'best tradeoffs' "
    "primitive that single-axis top-N collapses incorrectly (a "
    "dormant whale and a small-but-active buyer are both frontier "
    "points). Spark plan: ops.relational.skyline_2d — 2-D dominance is "
    "monotone, so one distinct-x hash agg + a strictly-preceding "
    "running-max window over the DISTINCT-spend frame + one equi-join "
    "back decides every row; never the quadratic NOT EXISTS self-join, "
    "which is exactly what the oracle runs (DuckDB, dominance "
    "semantics including duplicate-point survival) to value-lock the "
    "rewrite.",
)
def segment_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import skyline_2d

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pts = (
        orders.groupBy("o_custkey")
        .agg(
            stable_sum("o_totalprice", 2).alias("spend"),
            F.max("o_orderdate").alias("last_order"),
        )
        # size-owned join strategy: customer grows with SF (r10 audit)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_custkey").alias("custkey"),
            "spend",
            "last_order",
        )
    )
    return skyline_2d(pts, x="spend", y="last_order", keys=["segment"])


@query(
    "transition_model_eval",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type AS cur,
               lead(event_type) OVER w AS nxt,
               lead(ts) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (
        SELECT cur, nxt, ts FROM seq WHERE nxt IS NOT NULL
    ),
    train AS (
        SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
        FROM pairs WHERE ts < TIMESTAMP '2024-01-16'
        GROUP BY 1, 2
    ),
    model AS (
        SELECT cur, nxt AS pred FROM (
            SELECT cur, nxt,
                   row_number() OVER (PARTITION BY cur
                                      ORDER BY c DESC, nxt ASC) AS rk
            FROM train
        ) WHERE rk = 1
    ),
    base AS (
        SELECT nxt AS pred FROM (
            SELECT nxt, row_number() OVER (
                   ORDER BY sum(c) DESC, nxt ASC) AS rk
            FROM train GROUP BY nxt
        ) WHERE rk = 1
    )
    SELECT p.cur,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN p.nxt = m.pred THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN p.nxt = m.pred THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 4) AS model_acc,
           round(CAST(sum(CASE WHEN p.nxt = b.pred THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 4) AS baseline_acc
    FROM pairs p
    JOIN model m USING (cur)
    CROSS JOIN base b
    WHERE p.ts >= TIMESTAMP '2024-01-16'
    GROUP BY p.cur
    """,
    description="Holdout evaluation of the MARKOV next-event model: "
    "train argmax P(next | current) on first-half transitions "
    "(consecutive events per user, (ts, event_id)-total-ordered), "
    "score top-1 accuracy on second-half transitions against the "
    "must-beat baseline (the globally most common next type) — the "
    "eval that tells you whether the transition matrix carries any "
    "signal beyond the marginal distribution. Ties in the argmax "
    "break on type name, so the learned model is a pure function of "
    "the corpus. Scale: ONE user-keyed window pass builds all "
    "transitions, the model is O(types^2) -> broadcast, the eval is "
    "one hash agg — same cost as the transition matrix itself.",
)
def transition_model_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cutoff = "TIMESTAMP '2024-01-16'"
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = seq.filter(F.col("nxt").isNotNull()).select("cur", "nxt", "ts")
    train = (
        pairs.filter(F.expr(f"ts < {cutoff}"))
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wm = Window.partitionBy("cur").orderBy(
        F.col("c").desc(), F.col("nxt").asc()
    )
    model = (
        train.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    base = (
        train.groupBy("nxt")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("nxt").asc())
        .limit(1)
        .select(F.col("nxt").alias("bpred"))
    )
    test = pairs.filter(F.expr(f"ts >= {cutoff}"))
    return (
        test.join(F.broadcast(model), "cur")
        .crossJoin(F.broadcast(base))
        .groupBy("cur")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("nxt") == F.col("pred"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("nxt") == F.col("pred"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("model_acc"),
            F.round(
                F.sum(
                    F.when(F.col("nxt") == F.col("bpred"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("baseline_acc"),
        )
    )


@query(
    "event_type_theilsen_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type,
               CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope,
               a.x * 1000 + b.x AS pid
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.x > a.x
    ),
    ranked AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope, pid) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM slopes
    ),
    med AS (
        SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
               CASE WHEN max(n) % 2 = 1
                    THEN max(CASE WHEN rk = (n + 1) // 2
                             THEN slope END)
                    ELSE (max(CASE WHEN rk = n // 2 THEN slope END)
                        + max(CASE WHEN rk = n // 2 + 1
                              THEN slope END)) / 2 END AS m_slope
        FROM ranked GROUP BY event_type
    ),
    resid AS (
        SELECT d.event_type, m.n_pairs, m.m_slope,
               d.y - m.m_slope * d.x AS r,
               row_number() OVER (PARTITION BY d.event_type
                                  ORDER BY d.y - m.m_slope * d.x, d.x)
                   AS rk,
               count(*) OVER (PARTITION BY d.event_type) AS n
        FROM daily d JOIN med m USING (event_type)
    )
    SELECT event_type, n_pairs,
           round(m_slope, 6) AS theilsen_slope,
           round(CASE WHEN max(n) % 2 = 1
                 THEN max(CASE WHEN rk = (n + 1) // 2 THEN r END)
                 ELSE (max(CASE WHEN rk = n // 2 THEN r END)
                     + max(CASE WHEN rk = n // 2 + 1 THEN r END))
                      / 2 END, 6) AS theilsen_intercept
    FROM resid GROUP BY event_type, n_pairs, m_slope
    """,
    description="THEIL-SEN robust trend per event type: the median of "
    "all pairwise slopes of the daily series (plus the median-residual "
    "intercept) — the 29.3%%-breakdown-point estimator that one "
    "outage day cannot bend, beside event_type_trend_slopes' OLS "
    "(which a single bad day drags arbitrarily). Exact medians as "
    "order statistics with (slope, pair-id) total order, even-count "
    "midpoint averaged — bit-deterministic in both engines since "
    "every slope is the same IEEE divide of exact BIGINT daily "
    "counts. Scale: the O(days^2) pair join runs on the POST-AGG "
    "daily frame (days is bounded by the window, not the corpus), so "
    "cost is independent of fact-table size; the fact is scanned "
    "once.",
)
def event_type_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"
            ).alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    a = daily.select(
        "event_type", F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    slopes = a.join(
        F.broadcast(b),
        (F.col("et2") == F.col("event_type")) & (F.col("x2") > F.col("x1")),
    ).select(
        "event_type",
        ((F.col("y2") - F.col("y1")).cast("double") / (F.col("x2") - F.col("x1"))).alias("slope"),
        (F.col("x1") * 1000 + F.col("x2")).alias("pid"),
    )
    w = Window.partitionBy("event_type").orderBy("slope", "pid")
    wn = Window.partitionBy("event_type")
    ranked = slopes.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )

    def _median(rk, n, val):
        odd = F.max(F.when(rk == (n + 1) / 2, val))
        lo = F.max(F.when(rk == n / 2, val))
        hi = F.max(F.when(rk == n / 2 + 1, val))
        return F.when(F.max("n") % 2 == 1, odd).otherwise((lo + hi) / 2)

    nmax = F.max("n")
    med = ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.when(
            nmax % 2 == 1,
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n + 1) div 2"), F.col("slope")
                )
            ),
        )
        .otherwise(
            (
                F.max(F.when(F.col("rk") == F.expr("n div 2"), F.col("slope")))
                + F.max(
                    F.when(
                        F.col("rk") == F.expr("n div 2 + 1"), F.col("slope")
                    )
                )
            )
            / 2
        )
        .alias("m_slope"),
    )
    resid = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n_pairs",
        "m_slope",
        (F.col("y") - F.col("m_slope") * F.col("x")).alias("r"),
        "x",
    )
    wr = Window.partitionBy("event_type").orderBy("r", "x")
    rr = resid.withColumn("rk", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    return rr.groupBy("event_type", "n_pairs", "m_slope").agg(
        F.when(
            F.max("n") % 2 == 1,
            F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("r"))),
        )
        .otherwise(
            (
                F.max(F.when(F.col("rk") == F.expr("n div 2"), F.col("r")))
                + F.max(
                    F.when(F.col("rk") == F.expr("n div 2 + 1"), F.col("r"))
                )
            )
            / 2
        )
        .alias("ti")
    ).select(
        "event_type",
        "n_pairs",
        F.round("m_slope", 6).alias("theilsen_slope"),
        F.round("ti", 6).alias("theilsen_intercept"),
    )


@query(
    "event_type_leadlag",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, u.lag,
               a.cnt AS x, b.cnt AS y
        FROM daily a
        JOIN (SELECT unnest(range(-7, 8)) AS lag) u ON TRUE
        JOIN daily b
          ON b.event_type != a.event_type
         AND b.d = a.d + CAST(u.lag || ' days' AS INTERVAL)
    ),
    mom AS (
        SELECT type_a, type_b, lag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               sum(CAST(y AS DECIMAL(38,0)) * y) AS syy,
               sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy
        FROM lagged GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT type_a, type_b, CAST(lag AS INT) AS lag,
               CASE WHEN (CAST(n AS DECIMAL(38,0)) * sxx
                          - CAST(sx AS DECIMAL(38,0)) * sx) > 0
                     AND (CAST(n AS DECIMAL(38,0)) * syy
                          - CAST(sy AS DECIMAL(38,0)) * sy) > 0
                    THEN (CAST(CAST(n AS DECIMAL(38,0)) * sxy
                               - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                          * CAST(CAST(n AS DECIMAL(38,0)) * sxy
                                 - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE))
                         / (CAST(CAST(n AS DECIMAL(38,0)) * sxx
                                 - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                            * CAST(CAST(n AS DECIMAL(38,0)) * syy
                                   - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))
                    ELSE 0.0 END AS r2,
               CASE WHEN CAST(n AS DECIMAL(38,0)) * sxy
                         - CAST(sx AS DECIMAL(38,0)) * sy > 0 THEN 1
                    WHEN CAST(n AS DECIMAL(38,0)) * sxy
                         - CAST(sx AS DECIMAL(38,0)) * sy < 0 THEN -1
                    ELSE 0 END
                   AS direction
        FROM mom
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                   ORDER BY r2 DESC, abs(lag) ASC, lag ASC) AS rn
        FROM scored
    )
    SELECT type_a, type_b, lag AS best_lag, round(r2, 6) AS r2, direction
    FROM ranked WHERE rn = 1
    """,
    description="LEAD-LAG analysis between event-type daily series: for "
    "every ordered type pair and lag in [-7, +7], the squared "
    "correlation of (x_a[d], x_b[d+lag]) over overlapping days — best "
    "lag per pair says which signal LEADS which and by how many days "
    "(the cross-correlation primitive behind demand forecasting and "
    "incident root-causing). Sqrt-free on purpose: R^2 = (n*Sxy - "
    "SxSy)^2 / ((n*Sxx - Sx^2)(n*Syy - Sy^2)) where every moment is "
    "an EXACT BIGINT sum of integer daily counts — the only doubles "
    "are the final three casts and one divide, identical IEEE ops in "
    "both engines, so even the argmax tie-break (r2 DESC, |lag|, lag) "
    "is bit-deterministic. Scale: everything after the daily pre-agg "
    "is O(types^2 x lags x days) — the 15-lag fan-out rides a "
    "broadcast self-join of the tiny daily frame, the fact table is "
    "scanned once.",
)
def event_type_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("d").alias("da"),
        F.col("cnt").alias("x"),
    ).withColumn("lag", F.explode(F.sequence(F.lit(-7), F.lit(7))))
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("d").alias("db"),
        F.col("cnt").alias("y"),
    )
    lagged = a.join(
        F.broadcast(b),
        (F.col("type_b") != F.col("type_a"))
        & (F.col("db") == F.expr("date_add(da, lag)")),
    )
    # second moments and their algebra accumulate in decimal(38,0):
    # daily counts squared pass 2^63 at corpus scale (1e10 events/day/
    # type squares to 1e20), where Spark's non-ANSI int64 sum would
    # wrap silently while DuckDB's HUGEINT-to-BIGINT cast errors —
    # the same discipline as order_neyman_allocation / hourly_value_
    # bh_fdr; exact integers either way, so the doubles are identical
    dec = "decimal(38,0)"
    mom = lagged.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    cov_n = F.col("n").cast(dec) * F.col("sxy") - F.col("sx").cast(
        dec
    ) * F.col("sy")
    var_x = F.col("n").cast(dec) * F.col("sxx") - F.col("sx").cast(
        dec
    ) * F.col("sx")
    var_y = F.col("n").cast(dec) * F.col("syy") - F.col("sy").cast(
        dec
    ) * F.col("sy")
    scored = mom.select(
        "type_a",
        "type_b",
        F.col("lag").cast("int").alias("lag"),
        F.when(
            (var_x > 0) & (var_y > 0),
            (cov_n.cast("double") * cov_n.cast("double"))
            / (var_x.cast("double") * var_y.cast("double")),
        )
        .otherwise(0.0)
        .alias("r2"),
        F.when(cov_n > 0, 1).when(cov_n < 0, -1).otherwise(0).alias(
            "direction"
        ),
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.col("r2").desc(), F.abs("lag").asc(), F.col("lag").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "type_a",
            "type_b",
            F.col("lag").alias("best_lag"),
            F.round("r2", 6).alias("r2"),
            "direction",
        )
    )


@query(
    "event_value_ks_drift",
    oracle="""
    WITH ev AS (
        SELECT event_type, value,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END
                   AS half
        FROM events WHERE value IS NOT NULL
    ),
    per_v AS (
        SELECT event_type, value,
               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM ev GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(sum(c0) AS BIGINT) AS n0,
               CAST(sum(c1) AS BIGINT) AS n1
        FROM per_v GROUP BY 1
    ),
    cum AS (
        SELECT event_type, value,
               sum(c0) OVER w AS k0, sum(c1) OVER w AS k1
        FROM per_v
        WINDOW w AS (PARTITION BY event_type ORDER BY value
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT c.event_type, t.n0 AS n_first, t.n1 AS n_second,
           round(max(abs(CAST(c.k0 AS DOUBLE) / t.n0
                         - CAST(c.k1 AS DOUBLE) / t.n1)), 6) AS ks_stat
    FROM cum c JOIN tot t USING (event_type)
    GROUP BY 1, 2, 3
    """,
    description="Exact two-sample KOLMOGOROV-SMIRNOV drift statistic "
    "per event type (first vs second half of the window): the "
    "nonparametric max-ECDF-gap test that catches distribution shifts "
    "PSI's fixed deciles smooth over (shape changes inside a bin, "
    "tail migrations). Exact at any scale: ECDFs only step at sample "
    "points, so KS = max over DISTINCT values of |k0/n0 - k1/n1| "
    "after one (type, value) pre-agg with per-half counts and a "
    "cumulative window over the distinct-value frame — counts are "
    "integers, the division is the same IEEE op in both engines, and "
    "max is order-free, so the statistic is bit-deterministic with "
    "NO resampling or binning approximation. Spark runs the cumsum "
    "through the distributed prefix sum (range-partitioned, per-type) "
    "— never one reducer per type; the oracle uses the plain window "
    "at oracle scale.",
)
def event_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    cutoff = "TIMESTAMP '2024-01-16'"
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.expr(f"CASE WHEN ts < {cutoff} THEN 0 ELSE 1 END").alias(
                "half"
            ),
        )
    )
    per_v = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    tot = per_v.groupBy("event_type").agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
    )
    cum = global_running_sum(
        per_v, order_by=["value"], value_col="c0",
        partition_cols=["event_type"], out_col="k0",
    )
    cum = global_running_sum(
        cum, order_by=["value"], value_col="c1",
        partition_cols=["event_type"], out_col="k1",
    )
    return (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy(
            "event_type",
            F.col("n0").alias("n_first"),
            F.col("n1").alias("n_second"),
        )
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("k0").cast("double") / F.col("n0")
                        - F.col("k1").cast("double") / F.col("n1")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
    )


_ALS_STAGE = "CAST(CAST({e} AS VARCHAR) AS DECIMAL(38,20))"
_ALS_STAGE_SPARK = "CAST(CAST({e} AS STRING) AS DECIMAL(38,20))"


@query(
    "purchase_als_rank1",
    oracle=f"""
    WITH r AS (
        SELECT o.o_custkey AS u_id, l.l_partkey AS i_id,
               CAST(count(*) AS BIGINT) AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    uf AS (
        SELECT u_id,
               CAST(sum(r) AS DOUBLE) / count(*) AS u
        FROM r GROUP BY u_id
    ),
    ru AS (SELECT r.i_id, r.r, uf.u FROM r JOIN uf USING (u_id)),
    vf AS (
        SELECT i_id, CAST(count(*) AS BIGINT) AS n_raters,
               CAST(sum({_ALS_STAGE.format(e="r * u")}) AS DOUBLE)
               / CAST(sum({_ALS_STAGE.format(e="u * u")}) AS DOUBLE) AS v
        FROM ru GROUP BY i_id
    ),
    mse AS (
        SELECT CAST(sum({_ALS_STAGE.format(
            e="(ru.r - ru.u * vf.v) * (ru.r - ru.u * vf.v)"
        )}) AS DOUBLE) / count(*) AS mse
        FROM ru JOIN vf USING (i_id)
    )
    SELECT CAST(i_id AS BIGINT) AS partkey, n_raters,
           round(v, 6) AS item_factor,
           round(mse.mse, 3) AS global_mse
    FROM vf, mse
    ORDER BY item_factor DESC, partkey ASC LIMIT 20
    """,
    description="Rank-1 ALS (one alternation of alternating least "
    "squares, no regularization) over the customer x part purchase-"
    "count matrix — the collaborative-filtering primitive, expressed "
    "as pure join+aggregate algebra: user factors are the exact "
    "closed-form least-squares update against the all-ones init "
    "(integer ratio), item factors the mirror update against those "
    "users (VARCHAR-hop decimal-staged double sums, the cross-engine "
    "lesson from the calibration gate), plus the global "
    "reconstruction MSE. Per half-step: ONE groupBy over the sparse "
    "rating triples + ONE fact-keyed hash join — exactly how "
    "production ALS distributes (factors co-partitioned with the "
    "rating shards; higher rank swaps the scalar divide for a k x k "
    "Gram solve, same data movement). Top-20 items by factor, "
    "deterministic tie-break, TakeOrdered. r13: ratings (r), the "
    "joined sweep frame (ru), and the item factors (vf) are lazily "
    "localCheckpoint-ed so each is computed once per action instead of "
    "once per consumer (the before-plan replayed the fact join per "
    "half-step).",
)
def purchase_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # r13 (guide §5, verdict #6): the rating triples and each factor
    # frame are consumed by BOTH half-steps of the alternation (r by uf
    # and ru; ru by vf and the MSE scan; vf by the MSE join and the
    # final projection) — the before-plan re-derived the full
    # lineitem-orders join + groupBy once per consumer (repeated
    # LogicalRelation subtrees). Lazy localCheckpoints materialize each
    # sweep frame once INSIDE the timed action, exactly how production
    # ALS persists ratings/factors across alternations.
    r = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("u_id"),
            F.col("l_partkey").alias("i_id"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
        .localCheckpoint(eager=False)
    )
    uf = r.groupBy("u_id").agg(
        (F.sum("r").cast("double") / F.count(F.lit(1))).alias("u")
    )
    ru = (
        r.join(uf.hint("shuffle_hash"), "u_id")
        .select("i_id", "r", "u")
        .localCheckpoint(eager=False)
    )
    vf = ru.groupBy("i_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raters"),
        (
            F.sum(F.expr(_ALS_STAGE_SPARK.format(e="r * u"))).cast("double")
            / F.sum(F.expr(_ALS_STAGE_SPARK.format(e="u * u"))).cast(
                "double"
            )
        ).alias("v"),
    ).localCheckpoint(eager=False)
    scored = ru.join(vf.hint("shuffle_hash"), "i_id")
    mse = scored.agg(
        (
            F.sum(
                F.expr(_ALS_STAGE_SPARK.format(e="(r - u * v) * (r - u * v)"))
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("mse")
    )
    return (
        vf.crossJoin(F.broadcast(mse))
        .select(
            F.col("i_id").cast("bigint").alias("partkey"),
            "n_raters",
            F.round("v", 6).alias("item_factor"),
            F.round("mse", 3).alias("global_mse"),
        )
        .orderBy(F.col("item_factor").desc(), F.col("partkey").asc())
        .limit(20)
    )


@query(
    "als_recall_eval",
    oracle=f"""
    WITH base AS (
        SELECT o.o_custkey AS u_id, l.l_partkey AS i_id,
               o.o_orderdate < TIMESTAMP '1998-07-01' AS is_train
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    train AS (
        SELECT u_id, i_id, CAST(count(*) AS BIGINT) AS r
        FROM base WHERE is_train GROUP BY 1, 2
    ),
    test_new AS (
        SELECT DISTINCT b.u_id, b.i_id FROM base b
        WHERE NOT b.is_train
          AND NOT EXISTS (SELECT 1 FROM train t
                          WHERE t.u_id = b.u_id AND t.i_id = b.i_id)
    ),
    uf AS (
        SELECT u_id, CAST(sum(r) AS DOUBLE) / count(*) AS u
        FROM train GROUP BY u_id
    ),
    ru AS (SELECT t.i_id, t.r, uf.u FROM train t JOIN uf USING (u_id)),
    vf AS (
        SELECT i_id,
               CAST(sum({_ALS_STAGE.format(e="r * u")}) AS DOUBLE)
               / CAST(sum({_ALS_STAGE.format(e="u * u")}) AS DOUBLE) AS v
        FROM ru GROUP BY i_id
    ),
    kmax AS (
        SELECT 5 + max(deg) AS k FROM (
            SELECT count(*) AS deg FROM train GROUP BY u_id)
    ),
    top_items AS (
        SELECT i_id, v,
               row_number() OVER (ORDER BY v DESC, i_id ASC) AS grk
        FROM vf QUALIFY grk <= (SELECT k FROM kmax)
    ),
    eval_users AS (SELECT DISTINCT u_id FROM test_new),
    recs AS (
        SELECT u_id, i_id FROM (
            SELECT e.u_id, ti.i_id,
                   row_number() OVER (PARTITION BY e.u_id
                                      ORDER BY ti.v DESC, ti.i_id ASC)
                       AS rk
            FROM eval_users e CROSS JOIN top_items ti
            WHERE NOT EXISTS (SELECT 1 FROM train t
                              WHERE t.u_id = e.u_id
                                AND t.i_id = ti.i_id)
        ) WHERE rk <= 5
    ),
    per_user AS (
        SELECT tn.u_id,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN r.i_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM test_new tn
        LEFT JOIN recs r ON r.u_id = tn.u_id AND r.i_id = tn.i_id
        GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_hit) AS BIGINT) AS total_hits,
           round(CAST(sum(n_hit) AS DOUBLE) / (5 * count(*)), 6)
               AS precision_at_5,
           round(CAST(sum(CAST(CAST(
                 CAST(n_hit AS DOUBLE) / least(5, n_test)
                 AS VARCHAR) AS DECIMAL(38,20))) AS DOUBLE)
                 / count(*), 6) AS avg_recall_at_5
    FROM per_user
    """,
    description="RECSYS holdout evaluation closing the loop on "
    "purchase_als_rank1: train on pre-1998-07 purchases, recommend "
    "top-5 unseen items per user from the rank-1 item factors, score "
    "precision@5 and recall@5 against each user's genuinely NEW "
    "post-cutoff purchases (test items already bought in train are "
    "excluded — they could never be recommended). The rank-1 "
    "degeneracy is used honestly AND exploited for scale: positive "
    "user factors only rescale one global item ranking, so exact "
    "per-user top-5 = the global top-(5 + max train degree) items "
    "(one TakeOrdered + a broadcast) anti-joined against each user's "
    "train history — no users x items score matrix ever materializes "
    "(at rank k>1 this step becomes the ANN stack the registry "
    "already has). Recall averages ride the VARCHAR-hop decimal "
    "staging.",
)
def als_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    base = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_custkey").alias("u_id"),
        F.col("l_partkey").alias("i_id"),
        (F.col("o_orderdate") < F.expr("TIMESTAMP '1998-07-01'")).alias(
            "is_train"
        ),
    )
    train = (
        base.filter("is_train")
        .groupBy("u_id", "i_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
        .localCheckpoint(eager=True)  # reused by factors, recs, and eval
    )
    test_new = (
        base.filter(~F.col("is_train"))
        .select("u_id", "i_id")
        .distinct()
        .join(
            train.select("u_id", "i_id").hint("shuffle_hash"),
            ["u_id", "i_id"],
            "left_anti",
        )
        # r13 (guide §5, verdict #6): consumed by BOTH eval_users and
        # the per_user scoring join — without this the post-cutoff scan
        # + distinct + anti-join replayed once per consumer
        .localCheckpoint(eager=False)
    )
    uf = train.groupBy("u_id").agg(
        (F.sum("r").cast("double") / F.count(F.lit(1))).alias("u")
    )
    ru = train.join(uf.hint("shuffle_hash"), "u_id").select("i_id", "r", "u")
    vf = ru.groupBy("i_id").agg(
        (
            F.sum(F.expr(_ALS_STAGE_SPARK.format(e="r * u"))).cast("double")
            / F.sum(F.expr(_ALS_STAGE_SPARK.format(e="u * u"))).cast(
                "double"
            )
        ).alias("v")
    )
    max_deg = (
        train.groupBy("u_id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(F.max("deg"))
        .collect()[0][0]
    )  # driver scalar, like a watermark
    k = 5 + int(max_deg)
    top_items = (
        vf.orderBy(F.col("v").desc(), F.col("i_id").asc()).limit(k)
    )
    eval_users = test_new.select("u_id").distinct()
    w = Window.partitionBy("u_id").orderBy(
        F.col("v").desc(), F.col("i_id").asc()
    )
    recs = (
        eval_users.crossJoin(F.broadcast(top_items))
        .join(
            train.select("u_id", "i_id").hint("shuffle_hash"),
            ["u_id", "i_id"],
            "left_anti",
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("u_id", "i_id")
    )
    per_user = (
        test_new.join(
            recs.withColumn("hit", F.lit(1)).hint("shuffle_hash"),
            ["u_id", "i_id"],
            "left",
        )
        .groupBy("u_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias(
                "n_hit"
            ),
        )
    )
    recall = "CAST(n_hit AS DOUBLE) / least(5, n_test)"
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_hit").cast("bigint").alias("total_hits"),
        F.round(
            F.sum("n_hit").cast("double") / (5 * F.count(F.lit(1))), 6
        ).alias("precision_at_5"),
        F.round(
            F.sum(
                F.expr(_ALS_STAGE_SPARK.format(e=recall))
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_recall_at_5"),
    )


def _uplift_decile_oracle() -> str:
    from smartpool_bigdata_spark.ops import text as _T

    h = _T.duck_hash64("CAST(user_id AS VARCHAR)")
    ds = "CAST(sum(CAST({e} AS DECIMAL(38,10))) AS DOUBLE)"
    return f"""
    WITH per_user AS (
        SELECT user_id, CAST({h} % 2 AS INT) AS arm,
               {ds.format(e="CASE WHEN ts < TIMESTAMP '2024-01-16' THEN coalesce(value, 0) ELSE 0 END")} AS score,
               {ds.format(e="CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN coalesce(value, 0) ELSE 0 END")} AS y
        FROM events GROUP BY 1, 2
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM per_user),
    ranked AS (
        SELECT p.*, row_number() OVER (ORDER BY score DESC, user_id) AS rk,
               n.n_users
        FROM per_user p, n
    ),
    dec AS (
        SELECT CAST(floor((rk - 1) * 10 / n_users) AS INT) AS decile,
               arm, y
        FROM ranked
    ),
    cell AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_treated,
               CASE WHEN sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
                    THEN {ds.format(e="CASE WHEN arm = 1 THEN y ELSE 0 END")}
                         / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) END
                   AS mt,
               CASE WHEN sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
                    THEN {ds.format(e="CASE WHEN arm = 0 THEN y ELSE 0 END")}
                         / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) END
                   AS mc
        FROM dec GROUP BY decile
    )
    SELECT decile, n_users, n_treated,
           round(mt, 4) AS mean_treated,
           round(mc, 4) AS mean_control,
           round(mt - mc, 4) AS uplift,
           round(sum(coalesce(mt - mc, 0))
                 OVER (ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS cum_uplift
    FROM cell
    """


@query(
    "uplift_decile_curve",
    oracle=_uplift_decile_oracle(),
    description="UPLIFT DECILE (Qini-style targeting) curve — the "
    "readout that turns an experiment into a targeting policy: users "
    "ranked by a pre-period activity score, cut into deciles by the "
    "DISTRIBUTED rank (prefix-sum ranking, the Gini machinery — never "
    "a single-reducer global ntile), then per decile the "
    "treated-minus-control post-period mean = the incremental value "
    "of treating that decile, plus the cumulative curve whose shape "
    "says 'treat only the top-k deciles'. Empty arms in a decile are "
    "CASE-guarded to NULL and contribute 0 to the cumulative sum in "
    "both dialects. One scan to per-user sums; everything after is "
    "user-cardinality; the final cumulative window runs over 10 rows.",
)
def uplift_decile_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops import text as T
    from smartpool_bigdata_spark.ops.relational import global_running_sum
    from pyspark.sql import Window

    h = T.spark_hash64("cast(user_id as string)")
    cutoff = "TIMESTAMP '2024-01-16'"

    def dsum(e: str):
        return F.sum(F.expr(f"CAST({e} AS DECIMAL(38,10))")).cast("double")

    per_user = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "user_id", F.expr(f"CAST(pmod({h}, 2) AS INT)").alias("arm")
        )
        .agg(
            dsum(
                f"CASE WHEN ts < {cutoff} THEN coalesce(value, 0) ELSE 0 END"
            ).alias("score"),
            dsum(
                f"CASE WHEN ts >= {cutoff} THEN coalesce(value, 0) ELSE 0 END"
            ).alias("y"),
        )
        .localCheckpoint(eager=True)  # consumed by the rank AND the count
    )
    n_users = per_user.count()  # driver scalar, like a watermark
    # distributed rank: prefix-sum of 1 over (score DESC, user_id) — the
    # order columns must be numeric-first for the range partitioner, so
    # rank on negated score
    ranked = global_running_sum(
        per_user.withColumn("neg_score", -F.col("score")).withColumn(
            "one", F.lit(1)
        ),
        order_by=["neg_score", "user_id"],
        value_col="one",
        out_col="rk",
    )
    dec = ranked.select(
        F.floor((F.col("rk") - 1) * 10 / F.lit(n_users))
        .cast("int")
        .alias("decile"),
        "arm",
        "y",
    )
    n_t = F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
    n_c = F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
    cell = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        n_t.cast("bigint").alias("n_treated"),
        F.when(
            n_t > 0,
            dsum("CASE WHEN arm = 1 THEN y ELSE 0 END") / n_t,
        ).alias("mt"),
        F.when(
            n_c > 0,
            dsum("CASE WHEN arm = 0 THEN y ELSE 0 END") / n_c,
        ).alias("mc"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cell.select(
        "decile",
        "n_users",
        "n_treated",
        F.round("mt", 4).alias("mean_treated"),
        F.round("mc", 4).alias("mean_control"),
        F.round(F.col("mt") - F.col("mc"), 4).alias("uplift"),
        F.round(
            F.sum(F.coalesce(F.col("mt") - F.col("mc"), F.lit(0.0))).over(w),
            4,
        ).alias("cum_uplift"),
    )


def _did_oracle() -> str:
    from smartpool_bigdata_spark.ops import text as _T

    arm_h = _T.duck_hash64("CAST(user_id AS VARCHAR)")
    rep_h = _T.duck_hash64("CAST(user_id * 64 + u.b AS VARCHAR)")
    ds = "CAST(sum(CAST({e} AS DECIMAL(38,10))) AS DOUBLE)"
    return f"""
    WITH per_user AS (
        SELECT user_id, CAST({arm_h} % 2 AS INT) AS arm,
               {ds.format(e="CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN coalesce(value, 0) ELSE 0 END")}
             - {ds.format(e="CASE WHEN ts < TIMESTAMP '2024-01-16' THEN coalesce(value, 0) ELSE 0 END")}
               AS d
        FROM events GROUP BY 1, 2
    ),
    base AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n,
               {ds.format(e="d")} / count(*) AS dbar
        FROM per_user GROUP BY arm
    ),
    reps AS (
        SELECT p.arm, u.b,
               {ds.format(e=f"(({rep_h} % 2) * 2 - 1) * d")} AS s,
               CAST(sum(({rep_h} % 2) * 2 - 1) AS BIGINT) AS tsum
        FROM per_user p, unnest(range(0, 64)) AS u(b)
        GROUP BY 1, 2
    ),
    arm_means AS (
        SELECT r.b, r.arm,
               b2.dbar + (r.s - b2.dbar * r.tsum) / b2.n AS mb
        FROM reps r JOIN base b2 USING (arm)
    ),
    did_reps AS (
        SELECT b,
               sum(CASE WHEN arm = 1 THEN mb ELSE 0 END)
             - sum(CASE WHEN arm = 0 THEN mb ELSE 0 END) AS did_b
        FROM arm_means GROUP BY b
    ),
    ranked AS (
        SELECT did_b, row_number() OVER (ORDER BY did_b, b) AS rn
        FROM did_reps
    ),
    pt AS (
        SELECT sum(CASE WHEN arm = 1 THEN dbar ELSE 0 END)
             - sum(CASE WHEN arm = 0 THEN dbar ELSE 0 END) AS did,
               sum(CASE WHEN arm = 1 THEN dbar ELSE 0 END) AS treat_diff,
               sum(CASE WHEN arm = 0 THEN dbar ELSE 0 END) AS control_diff,
               CAST(sum(n) AS BIGINT) AS n_users
        FROM base
    )
    SELECT pt.n_users,
           round(pt.treat_diff, 4) AS treat_diff,
           round(pt.control_diff, 4) AS control_diff,
           round(pt.did, 4) AS did_estimate,
           round((SELECT did_b FROM ranked WHERE rn = 2), 4) AS ci_lo,
           round((SELECT did_b FROM ranked WHERE rn = 63), 4) AS ci_hi
    FROM pt
    """


@query(
    "segment_did_bootstrap",
    oracle=_did_oracle(),
    description="DIFFERENCE-IN-DIFFERENCES with a multiplier-bootstrap "
    "CI — the panel causal estimator: per-user post-minus-pre value "
    "change d_i, DiD = mean(d | treated) - mean(d | control) "
    "(hash-assigned arms, mid-corpus boundary), so any user-level "
    "time trend common to both arms cancels. Uncertainty reuses the "
    "Rademacher multiplier machinery of event_value_bootstrap_ci: 64 "
    "per-(arm, replica) partial sums S_b, T_b fold each replica's arm "
    "mean from the SAME single pass, did_b = treated_b - control_b, "
    "CI = exact order statistics (2/63 of 64, b-tiebroken). One scan "
    "of events -> per-user sums, one tiny agg per arm, one 64x "
    "map-side-combined explode over USERS (not events) — the whole "
    "causal readout is two hash-agg passes over user-cardinality "
    "data, nothing driver-side but scalars.",
)
def segment_did_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops import text as T
    from pyspark.sql import Window

    arm_h = T.spark_hash64("cast(user_id as string)")
    rep_h = T.spark_hash64("cast(user_id * 64 + b as string)")
    cutoff = "TIMESTAMP '2024-01-16'"

    def dsum(e: str):
        return F.sum(F.expr(f"CAST({e} AS DECIMAL(38,10))")).cast("double")

    per_user = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.expr(f"CAST(pmod({arm_h}, 2) AS INT)").alias("arm"),
        )
        .agg(
            (
                dsum(
                    f"CASE WHEN ts >= {cutoff} THEN coalesce(value, 0) ELSE 0 END"
                )
                - dsum(
                    f"CASE WHEN ts < {cutoff} THEN coalesce(value, 0) ELSE 0 END"
                )
            ).alias("d")
        )
    )
    base = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (dsum("d") / F.count(F.lit(1))).alias("dbar"),
    )
    eps = f"(pmod({rep_h}, 2) * 2 - 1)"
    reps = (
        per_user.select(
            "arm", "d", "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        )
        .groupBy("arm", "b")
        .agg(
            F.sum(F.expr(f"CAST({eps} * d AS DECIMAL(38,10))"))
            .cast("double")
            .alias("s"),
            F.sum(F.expr(eps)).cast("bigint").alias("tsum"),
        )
    )
    arm_means = reps.join(F.broadcast(base), "arm").select(
        "b",
        "arm",
        (
            F.col("dbar")
            + (F.col("s") - F.col("dbar") * F.col("tsum")) / F.col("n")
        ).alias("mb"),
    )
    did_reps = arm_means.groupBy("b").agg(
        (
            F.sum(F.when(F.col("arm") == 1, F.col("mb")).otherwise(0.0))
            - F.sum(F.when(F.col("arm") == 0, F.col("mb")).otherwise(0.0))
        ).alias("did_b")
    )
    ranked = did_reps.withColumn(
        "rn", F.row_number().over(Window.orderBy("did_b", "b"))
    )
    ci = ranked.agg(
        F.round(F.max(F.when(F.col("rn") == 2, F.col("did_b"))), 4).alias(
            "ci_lo"
        ),
        F.round(F.max(F.when(F.col("rn") == 63, F.col("did_b"))), 4).alias(
            "ci_hi"
        ),
    )
    pt = base.agg(
        F.sum("n").cast("bigint").alias("n_users"),
        F.round(
            F.sum(F.when(F.col("arm") == 1, F.col("dbar")).otherwise(0.0)), 4
        ).alias("treat_diff"),
        F.round(
            F.sum(F.when(F.col("arm") == 0, F.col("dbar")).otherwise(0.0)), 4
        ).alias("control_diff"),
        F.round(
            F.sum(F.when(F.col("arm") == 1, F.col("dbar")).otherwise(0.0))
            - F.sum(F.when(F.col("arm") == 0, F.col("dbar")).otherwise(0.0)),
            4,
        ).alias("did_estimate"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_users", "treat_diff", "control_diff", "did_estimate",
        "ci_lo", "ci_hi",
    )


def _cuped_oracle() -> str:
    from smartpool_bigdata_spark.ops import text as _T

    h = _T.duck_hash64("CAST(user_id AS VARCHAR)")
    ds = "CAST(sum(CAST({e} AS DECIMAL(38,10))) AS DOUBLE)"
    return f"""
    WITH per_user AS (
        SELECT user_id, CAST({h} % 2 AS INT) AS arm,
               {ds.format(e="CASE WHEN ts < TIMESTAMP '2024-01-16' THEN coalesce(value, 0) ELSE 0 END")} AS x,
               {ds.format(e="CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN coalesce(value, 0) ELSE 0 END")} AS y
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {ds.format(e="x")} AS sx, {ds.format(e="y")} AS sy,
               {ds.format(e="x * x")} AS sxx, {ds.format(e="x * y")} AS sxy
        FROM per_user
    ),
    theta AS (
        SELECT n, sx / n AS xbar,
               (sxy - sx * sy / n) / (sxx - sx * sx / n) AS th
        FROM g
    ),
    adj AS (
        SELECT p.arm, p.y, p.y - t.th * (p.x - t.xbar) AS ya
        FROM per_user p, theta t
    )
    SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           round({ds.format(e="y")} / count(*), 4) AS mean_y,
           round({ds.format(e="ya")} / count(*), 4) AS mean_y_adj,
           round({ds.format(e="y * y")} / count(*)
                 - ({ds.format(e="y")} / count(*))
                   * ({ds.format(e="y")} / count(*)), 4) AS var_y,
           round({ds.format(e="ya * ya")} / count(*)
                 - ({ds.format(e="ya")} / count(*))
                   * ({ds.format(e="ya")} / count(*)), 4) AS var_y_adj
    FROM adj GROUP BY arm
    """


@query(
    "segment_cuped_adjusted_lift",
    oracle=_cuped_oracle(),
    description="CUPED variance reduction (Deng et al., the standard "
    "experimentation-platform adjustment): per-user post-period value "
    "Y is adjusted by the pre-period covariate X via Y - theta*(X - "
    "Xbar), theta = cov(X,Y)/var(X) — per-arm means stay unbiased "
    "while variance drops by the squared X-Y correlation, which is "
    "what makes small A/B effects detectable. Arms are a "
    "deterministic hash(user) %% 2 split; the pre/post boundary is "
    "mid-corpus. Everything reduces to ONE scan into per-user "
    "conditional sums, one tiny global moment aggregate (n, SX, SY, "
    "SXX, SXY -> theta as a broadcast scalar), then a per-arm "
    "aggregate of the adjusted metric — no second pass over raw "
    "events, no driver-side math beyond scalars. Decimal-stable sums "
    "everywhere; variance via the moment identity E[Z^2]-E[Z]^2, all "
    "rational so both engines agree bit-for-bit. var_y_adj < var_y "
    "is the observable payoff (asserted in tests).",
)
def segment_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops import text as T

    h = T.spark_hash64("cast(user_id as string)")
    cutoff = "TIMESTAMP '2024-01-16'"

    def dsum(e: str):
        return F.sum(F.expr(f"CAST({e} AS DECIMAL(38,10))")).cast("double")

    per_user = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.expr(f"CAST(pmod({h}, 2) AS INT)").alias("arm"))
        .agg(
            dsum(
                f"CASE WHEN ts < {cutoff} THEN coalesce(value, 0) ELSE 0 END"
            ).alias("x"),
            dsum(
                f"CASE WHEN ts >= {cutoff} THEN coalesce(value, 0) ELSE 0 END"
            ).alias("y"),
        )
    )
    g = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum("x * x").alias("sxx"),
        dsum("x * y").alias("sxy"),
    )
    theta = g.select(
        (F.col("sx") / F.col("n")).alias("xbar"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("th"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "arm",
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))).alias("ya"),
    )
    cnt = F.count(F.lit(1))
    return adj.groupBy("arm").agg(
        cnt.cast("bigint").alias("n_users"),
        F.round(dsum("y") / cnt, 4).alias("mean_y"),
        F.round(dsum("ya") / cnt, 4).alias("mean_y_adj"),
        F.round(
            dsum("y * y") / cnt - (dsum("y") / cnt) * (dsum("y") / cnt), 4
        ).alias("var_y"),
        F.round(
            dsum("ya * ya") / cnt - (dsum("ya") / cnt) * (dsum("ya") / cnt),
            4,
        ).alias("var_y_adj"),
    )


def _target_encoding_oracle() -> str:
    from smartpool_bigdata_spark.ops import text as _T

    h = _T.duck_hash64("CAST(user_id AS VARCHAR)")
    return f"""
    WITH ev AS (
        SELECT event_type, value, CAST({h} % 5 AS INT) AS fold
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS s_all
        FROM ev
    ),
    per_c AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_c,
               CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS s_c
        FROM ev GROUP BY 1
    ),
    per_cf AS (
        SELECT event_type, fold, CAST(count(*) AS BIGINT) AS n_cf,
               CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS s_cf
        FROM ev GROUP BY 1, 2
    )
    SELECT p.event_type, p.fold, p.n_cf AS n_infold,
           round(CASE WHEN c.n_c - p.n_cf > 0
                 THEN (c.s_c - p.s_cf) / (c.n_c - p.n_cf) END, 4)
               AS oof_mean,
           round((c.s_c - p.s_cf + 20.0 * (g.s_all / g.n_all))
                 / (c.n_c - p.n_cf + 20.0), 4) AS smoothed_encoding
    FROM per_cf p JOIN per_c c USING (event_type), g
    """


@query(
    "event_type_target_encoding",
    oracle=_target_encoding_oracle(),
    description="Leakage-free K-FOLD TARGET ENCODING — the standard "
    "categorical-feature trick for gradient-boosted / linear models at "
    "scale: each (category, fold) cell gets the mean target computed "
    "from the OTHER folds only (out-of-fold), plus the "
    "m-estimate-smoothed variant ((S_oof + m*prior)/(n_oof + m), "
    "m=20) that keeps rare categories from memorizing noise. Folds "
    "are hash(user_id) % 5 — split by USER, not row, because "
    "row-level folds leak a user's own signal across folds. "
    "Everything is subtraction algebra on ONE pass of per-(cat) and "
    "per-(cat, fold) decimal-stable sums — the naive 'train K models "
    "on K-1 folds' scan-K-times shape collapses to a single scan + "
    "two tiny hash aggs + a broadcast join, the only form that "
    "survives 100 TB. Division-by-zero (a category entirely inside "
    "one fold) is CASE-guarded to NULL in both dialects.",
)
def event_type_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops import text as T

    h = T.spark_hash64("cast(user_id as string)")
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.expr(f"CAST(pmod({h}, 5) AS INT)").alias("fold"),
        )
    )
    g = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(F.col("value").cast("decimal(38,10)"))
        .cast("double")
        .alias("s_all"),
    )
    per_c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.sum(F.col("value").cast("decimal(38,10)"))
        .cast("double")
        .alias("s_c"),
    )
    per_cf = ev.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cf"),
        F.sum(F.col("value").cast("decimal(38,10)"))
        .cast("double")
        .alias("s_cf"),
    )
    out = (
        per_cf.join(F.broadcast(per_c), "event_type")
        .crossJoin(F.broadcast(g))
    )
    oof_n = F.col("n_c") - F.col("n_cf")
    return out.select(
        "event_type",
        "fold",
        F.col("n_cf").alias("n_infold"),
        F.round(
            F.when(oof_n > 0, (F.col("s_c") - F.col("s_cf")) / oof_n), 4
        ).alias("oof_mean"),
        F.round(
            (
                F.col("s_c")
                - F.col("s_cf")
                + F.lit(20.0) * (F.col("s_all") / F.col("n_all"))
            )
            / (oof_n + F.lit(20.0)),
            4,
        ).alias("smoothed_encoding"),
    )


def _bootstrap_ci_oracle() -> str:
    from smartpool_bigdata_spark.ops import text as _T

    h = _T.duck_hash64("CAST(e.event_id AS VARCHAR)")
    eps = f"(CAST(({h} >> u.b) & 1 AS INT) * 2 - 1)"
    return f"""
    WITH ev AS (
        SELECT event_id, event_type, value FROM events
        WHERE value IS NOT NULL
    ),
    base AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                   / count(*) AS xbar
        FROM ev GROUP BY 1
    ),
    reps AS (
        SELECT e.event_type, u.b,
               CAST(sum(CAST({eps} * value
                    AS DECIMAL(38,10))) AS DOUBLE) AS s,
               CAST(sum({eps}) AS BIGINT) AS tsum
        FROM ev e, unnest(range(0, 60)) AS u(b)
        GROUP BY 1, 2
    ),
    means AS (
        SELECT r.event_type, r.b, b2.n, b2.xbar,
               b2.xbar + (r.s - b2.xbar * r.tsum) / b2.n AS mb
        FROM reps r JOIN base b2 USING (event_type)
    ),
    ranked AS (
        SELECT event_type, n, xbar, mb,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY mb, b) AS rn
        FROM means
    )
    SELECT event_type, max(n) AS n_events,
           round(max(xbar), 4) AS mean_value,
           round(max(CASE WHEN rn = 2 THEN mb END), 4) AS ci_lo,
           round(max(CASE WHEN rn = 59 THEN mb END), 4) AS ci_hi
    FROM ranked GROUP BY event_type
    """


@query(
    "event_value_bootstrap_ci",
    oracle=_bootstrap_ci_oracle(),
    description="Distributed UNCERTAINTY QUANTIFICATION: a 95% "
    "confidence interval for the mean event value per type via the "
    "Rademacher MULTIPLIER BOOTSTRAP (wild bootstrap) — 60 replicas "
    "where replica b's mean is xbar + n^-1 * sum(eps_ib (x_i - xbar)) "
    "with eps_ib = +/-1 from BIT b of ONE md5 per row (md5 bits are "
    "independent, so one hash funds all 60 replicas — the 10x probe "
    "caught the per-(row, replica) md5 variant at 5.8x growth; "
    "bit-slicing brings the explode back to pure codegen shift/mask), "
    "folded to one pass via S_b = sum(eps x), T_b = sum(eps): mean_b "
    "= xbar + (S_b - xbar T_b)/n. CI bounds are EXACT order "
    "statistics (2nd and 59th of 60 replica means, b-tiebroken), so "
    "the whole thing is hash-deterministic, sqrt/exp-free, and "
    "value-locked cross-engine. Scale: one 60x explode absorbed by "
    "map-side combine into (types x 60) partial sums — the resample "
    "never materializes, no per-row Python, ONE md5 + one pass over "
    "the data — plus, on under-split local scans only, _ts's "
    "conditional spread repartition so the explode parallelizes (a "
    "no-op at cluster split counts). The classic resample-by-copying "
    "bootstrap is impossible at 100 TB; the multiplier form is the "
    "published scale-out answer.",
)
def event_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops import text as T
    from pyspark.sql import Window

    # _ts, not _t (r12 optimization): the 60x multiplier explode + the
    # decimal partial aggregate run in the SCAN stage; on a single-split
    # scan (single-row-group testdata parquet) the whole 6M-row expand
    # ran on ONE core — stage_time_audit measured exec_s == wall_s == 3.9
    # with 6 stages / 6 tasks. Re-spreading the scan parallelizes the
    # map side; a no-op on a many-split cluster scan.
    ev = (
        _ts(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("value").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("xbar"),
    )
    h = T.spark_hash64("cast(event_id as string)")
    eps = "(CAST((__h >> b) & 1 AS INT) * 2 - 1)"
    reps = (
        ev.withColumn("__h", F.expr(h))  # ONE md5 per row, 60 bits used
        .select(
            "event_type",
            "value",
            "__h",
            F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.expr(f"CAST({eps} * value AS DECIMAL(38,10))"))
            .cast("double")
            .alias("s"),
            F.sum(F.expr(eps)).cast("bigint").alias("tsum"),
        )
    )
    means = reps.join(F.broadcast(base), "event_type").select(
        "event_type",
        "b",
        "n",
        "xbar",
        (
            F.col("xbar")
            + (F.col("s") - F.col("xbar") * F.col("tsum")) / F.col("n")
        ).alias("mb"),
    )
    w = Window.partitionBy("event_type").orderBy("mb", "b")
    ranked = means.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.round(F.max("xbar"), 4).alias("mean_value"),
        F.round(F.max(F.when(F.col("rn") == 2, F.col("mb"))), 4).alias(
            "ci_lo"
        ),
        F.round(F.max(F.when(F.col("rn") == 59, F.col("mb"))), 4).alias(
            "ci_hi"
        ),
    )


@query(
    "incident_concurrency_profile",
    oracle="""
    WITH win AS (
        SELECT event_id AS w_id, ts AS s, ts + INTERVAL 4 HOUR AS e
        FROM events WHERE event_id % 499 = 0
    ),
    bounds AS (
        SELECT s AS t, 1 AS delta, w_id FROM win
        UNION ALL
        SELECT e AS t, -1 AS delta, w_id FROM win
    ),
    run AS (
        SELECT t, CAST(sum(delta) OVER (
                   ORDER BY t, delta, w_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS conc
        FROM bounds
    )
    SELECT CAST(t AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_boundaries,
           CAST(max(conc) AS BIGINT) AS peak_concurrency,
           round(CAST(sum(CAST(conc AS DECIMAL(38,10))) AS DOUBLE)
                 / count(*), 4) AS avg_concurrency
    FROM run GROUP BY 1
    """,
    description="SWEEP-LINE interval concurrency: how many 4-hour "
    "incident windows are simultaneously open, per day (peak and "
    "boundary-weighted mean) — the capacity-planning / overlap-audit "
    "primitive behind 'how many incidents were concurrent at the "
    "worst moment'. Each window contributes a +1 boundary at its "
    "start and a -1 at its end; concurrency is the GLOBAL running sum "
    "over boundaries ordered by (time, delta, id) — half-open [s, e) "
    "pinned by sorting -1 before +1 at equal timestamps. Spark plan: "
    "ops.relational.global_running_sum, the range-partitioned "
    "distributed prefix sum — one range exchange + parallel "
    "within-bucket windows + an O(buckets) offset broadcast, never "
    "the single-reducer global window the naive OVER (ORDER BY ...) "
    "pays at 100 TB (which is exactly what the oracle runs at oracle "
    "scale). The unique w_id tiebreaker makes the order total, so "
    "every per-row concurrency value is bit-deterministic.",
)
def incident_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    ev = _t(spark, sf_dir, "events")
    win = ev.filter(F.col("event_id") % 499 == 0).select(
        F.col("event_id").alias("w_id"),
        F.col("ts").alias("s"),
        F.expr("ts + INTERVAL 4 HOUR").alias("e"),
    )
    bounds = win.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "w_id"
    ).unionByName(
        win.select(F.col("e").alias("t"), F.lit(-1).alias("delta"), "w_id")
    ).withColumn("t_us", F.unix_micros(F.col("t").cast("timestamp")))
    run = global_running_sum(
        bounds,
        order_by=["t_us", "delta", "w_id"],
        value_col="delta",
        out_col="conc",
    )
    return run.groupBy(F.col("t").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boundaries"),
        F.max(F.col("conc").cast("bigint")).alias("peak_concurrency"),
        F.round(
            F.sum(F.col("conc").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_concurrency"),
    )


@query(
    "events_in_incident_windows",
    oracle="""
    WITH win AS (
        SELECT event_id AS w_id, event_type AS w_type, ts AS w_start,
               ts + INTERVAL 4 HOUR AS w_end
        FROM events WHERE event_id % 499 = 0
    )
    SELECT w.w_type,
           CAST(count(DISTINCT w.w_id) AS BIGINT) AS n_windows,
           count(*) AS n_hits,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS total_value
    FROM events e
    JOIN win w ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w.w_type
    """,
    description="Point-in-interval RANGE JOIN with no equi-key — the one "
    "join shape the registry lacked: sampled high-signal events open a "
    "4-hour incident window, and every event falling inside any window "
    "is attributed to it (pure time-overlap predicate, both sides "
    "fact-sized in general). Spark plan: ops.relational."
    "interval_point_join bucketizes time (4h buckets), explodes each "
    "interval to its ~2 covered buckets, and equi-joins on the bucket "
    "with the exact range predicate as a residual — ONE hash shuffle, "
    "O(|P| + 2|I|) rows moved, never the BroadcastNestedLoop/|P|x|I| "
    "plan the naive theta join forces. Oracle: the naive theta join "
    "(DuckDB's IEJoin handles it at oracle scale), so the bucketized "
    "rewrite is value-locked against the exact semantics.",
)
def events_in_incident_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import interval_point_join

    ev = _t(spark, sf_dir, "events")
    points = ev.select("event_id", "ts", "user_id", "value")
    windows = ev.filter(F.col("event_id") % 499 == 0).select(
        F.col("event_id").alias("w_id"),
        F.col("event_type").alias("w_type"),
        F.col("ts").alias("w_start"),
        F.expr("ts + INTERVAL 4 HOUR").alias("w_end"),
    )
    joined = interval_point_join(
        points, windows, point_ts="ts", start_ts="w_start", end_ts="w_end",
        bucket="4 hours",
    )
    return joined.groupBy("w_type").agg(
        F.countDistinct("w_id").cast("bigint").alias("n_windows"),
        F.count(F.lit(1)).alias("n_hits"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        stable_sum("value", 2).alias("total_value"),
    )


@query(
    "customer_order_count_distribution",
    oracle="""
    WITH co AS (
        SELECT c.c_custkey,
               CAST(count(o.o_orderkey) AS INTEGER) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
    description="TPC-H Q13 shape (customer order-count distribution): "
    "LEFT OUTER customer->orders with the filter ON THE JOIN (not the "
    "WHERE — a WHERE would silently turn the outer join inner and drop "
    "the zero-order customers the query exists to count), count(order) "
    "per customer so no-order customers land in the c_count=0 bucket, "
    "then a second agg folds customers into a distribution. Scale: "
    "customers and orders are BOTH fact-sized at 100 TB, so unlike the "
    "snowflake dims this is an honest shuffle equi-join on custkey "
    "followed by two hash aggs — the first already key-partitioned by "
    "the join exchange (no extra shuffle), the second on the tiny "
    "distribution domain.",
)
def customer_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("int").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@query(
    "local_supplier_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(38,10))) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    description="TPC-H Q5 proper (local-supplier revenue): revenue by "
    "nation for ASIA/1996, with Q5's distinguishing twist the simpler "
    "regional_supplier_revenue snowflake lacks — the CUSTOMER's nation "
    "must equal the SUPPLIER's nation, a cross-fact equality that only "
    "binds after both fact joins. Plan shape at 100 TB: orders is "
    "date-filtered AT THE SCAN (pushed predicate prunes ~6/7 of the "
    "fact), the customer join carries c_nationkey onto the order rows, "
    "lineitem shuffle-joins on orderkey, and supplier joins broadcast "
    "on (s_suppkey) with the nation equality evaluated in the join "
    "condition — never as a post-join filter on a wider intermediate.",
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # snowflake-collapse nation->region once, broadcast to the fact side
    sup_dim = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"])
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    enriched = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(sup_dim),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    return enriched.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        stable_sum(F.expr("l_extendedprice * (1 - l_discount)"), 2).alias(
            "revenue"
        ),
    )


@query(
    "user_event_bag_diff",
    oracle="""
    WITH a AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
         b AS (SELECT user_id FROM events WHERE event_type = 'view'),
         pmv AS (SELECT user_id FROM a EXCEPT ALL SELECT user_id FROM b),
         vmp AS (SELECT user_id FROM b EXCEPT ALL SELECT user_id FROM a),
         ib  AS (SELECT user_id FROM a INTERSECT ALL SELECT user_id FROM b)
    SELECT 'purchase_minus_view' AS metric,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(user_id) AS BIGINT) AS id_sum
    FROM pmv
    UNION ALL
    SELECT 'view_minus_purchase', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(sum(user_id) AS BIGINT)
    FROM vmp
    UNION ALL
    SELECT 'bag_intersection', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(sum(user_id) AS BIGINT)
    FROM ib
    """,
    description="MULTISET set ops — exceptAll / intersectAll — the bag "
    "semantics the distinct-set family (union/intersect/subtract, all "
    "covered) cannot express: EXCEPT ALL keeps max(n_a - n_b, 0) copies "
    "per key and INTERSECT ALL min(n_a, n_b), so a user with 5 "
    "purchases and 2 views contributes 3 rows to the difference and 2 "
    "to the intersection — per-row accounting (how many EVENTS exceed "
    "the other bag), not membership. Digested to per-bag (count, "
    "distinct users, id-sum) so the compare is O(1) while still "
    "value-locking the exact multiset. Scale note, honest: each native "
    "set-op is one hash shuffle with per-key counting (no row-pairing, "
    "no sort), but the three-op digest union re-scans the pushed "
    "2-column projection per op (6 scans — visible in the plan audit); "
    "at 100 TB the rewrite is ONE scan into per-user (cnt_a, cnt_b) "
    "and greatest/least algebra over the count vector. This query "
    "exists to value-lock the NATIVE exceptAll/intersectAll operators "
    "a Spark user reaches for first.",
)
def user_event_bag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "purchase").select("user_id")
    b = ev.where(F.col("event_type") == "view").select("user_id")

    def digest(df: DataFrame, metric: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("user_id").cast("bigint").alias("id_sum"),
        ).select(F.lit(metric).alias("metric"), "n_rows", "n_users", "id_sum")

    return (
        digest(a.exceptAll(b), "purchase_minus_view")
        .unionByName(digest(b.exceptAll(a), "view_minus_purchase"))
        .unionByName(digest(a.intersectAll(b), "bag_intersection"))
    )


@query(
    "user_value_rolling_7d",
    oracle="""
    SELECT user_id, event_id,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) OVER w
                 AS DOUBLE), 2) AS roll_value_7d,
           CAST(count(*) OVER w AS BIGINT) AS roll_n_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
    description="Time-RANGE window frame (rangeBetween over epoch "
    "microseconds): per-user rolling 7-day spend and event count at EVERY "
    "event — the value-based frame ROWS BETWEEN cannot express (the "
    "lookback is 604800 SECONDS, not N rows, so sparse and bursty "
    "users get correct windows). The ordering key is EPOCH "
    "MICROSECONDS as a bigint on both sides (unix_micros / epoch_us): "
    "whole seconds would truncate in Spark's long cast while DuckDB's "
    "epoch() keeps the fraction, and the disagreement surfaces exactly "
    "at frame boundaries — one row 7d+0.3s away flipped the hash at "
    "sf0.1. Ties (equal ts) are RANGE peers and "
    "enter each other's frames symmetrically in both engines, and the "
    "sum folds through decimal so peer order can't flip the rounding. "
    "Completes the §2.5 frame surface: rows-frames (running totals), "
    "growth frames (unbounded), and now value-range frames. Scale: "
    "one shuffle on user_id; frames are per-user sorted scans with a "
    "sliding two-pointer — no self-join, no explode.",
)
def user_value_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        # NTZ has no unix_micros; NTZ->LTZ is value-identity under the
        # session's pinned UTC tz. Micros, not seconds: a seconds cast
        # truncates sub-second parts and disagrees with DuckDB's
        # fractional epoch() at frame boundaries.
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-604_800_000_000, Window.currentRow)
    )
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.sum(F.col("value").cast("decimal(38,10)")).over(w).cast("double"), 2
        ).alias("roll_value_7d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("roll_n_7d"),
    )


@query(
    "sole_late_supplier_waitlist",
    oracle="""
    WITH late AS (
        SELECT DISTINCT l.l_orderkey AS ok, l.l_suppkey AS sk
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    ),
    pairs AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
    cand AS (
        SELECT a.ok, a.sk FROM late a
        WHERE EXISTS (SELECT 1 FROM pairs b
                      WHERE b.ok = a.ok AND b.sk <> a.sk)
    ),
    sole AS (
        SELECT a.ok, a.sk FROM cand a
        WHERE NOT EXISTS (SELECT 1 FROM late c
                          WHERE c.ok = a.ok AND c.sk <> a.sk)
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM sole JOIN supplier s ON s.s_suppkey = sole.sk
    GROUP BY s.s_name
    """,
    description="TPC-H Q21 shape (suppliers who kept orders waiting, "
    "adapted to this schema's dates: late = shipped >60 days after the "
    "order date, same convention as the Q4-shaped EXISTS gate): per "
    "supplier, the count of finished multi-supplier orders where it was "
    "the SOLE late shipper — the famously tricky EXISTS + NOT EXISTS "
    "double-correlation on the same fact table. Spark plan: the two "
    "correlations become one LEFT SEMI (another supplier exists on the "
    "order) and one LEFT ANTI (no OTHER late supplier) self-join of the "
    "deduped (order, supplier) pair set on orderkey with the "
    "inequality in the join condition — no per-row subquery "
    "re-execution, three key shuffles total at any scale, supplier "
    "names broadcast at the end.",
)
def sole_late_supplier_waitlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o_f = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(o_f, li["l_orderkey"] == o_f["o_orderkey"])
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    pairs = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    ).distinct()
    cand = late.alias("a").join(
        pairs.alias("b"),
        (F.col("a.ok") == F.col("b.ok")) & (F.col("a.sk") != F.col("b.sk")),
        "left_semi",
    )
    # the anti self-join would SMJ (the distinct-agg build side carries
    # no useful size stats); both sides are key-partitioned pair sets, so
    # hint the hash build — same fix as the DBSCAN/ALS checkpoint case
    sole = cand.alias("a").join(
        late.hint("shuffle_hash").alias("c"),
        (F.col("a.ok") == F.col("c.ok")) & (F.col("a.sk") != F.col("c.sk")),
        "left_anti",
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(F.broadcast(sup), F.col("sk") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@query(
    "rich_nonurgent_customers",
    oracle="""
    WITH bal AS (
        SELECT c_custkey, c_nationkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    ),
    ab AS (
        SELECT CAST(sum(bal_cents) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM bal WHERE bal_cents > 0
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           round(CAST(sum(bal_cents) AS DOUBLE) / 100, 2) AS totacctbal
    FROM bal, ab
    WHERE bal_cents * ab.n > ab.s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = bal.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
    description="TPC-H Q22 shape (global-mean scalar subquery + anti "
    "join): customers whose balance beats the average POSITIVE balance "
    "and who placed no URGENT order (adapted: every customer here has "
    "SOME order, so Q22's no-orders anti-join keys on the urgent "
    "slice), rolled up per nation. The above-average comparison is "
    "INTEGER-exact: balances become cents (round(x*100) — integral "
    "doubles cast identically in both engines, dodging the "
    "Spark-truncates/DuckDB-rounds cast trap), and bal*n > sum "
    "cross-multiplies instead of dividing, so no float mean ever "
    "exists to disagree at the boundary. Plan: the (sum, n) profile is "
    "a broadcast single-row aggregate crossJoined onto customers; the "
    "NOT EXISTS decorrelates to a LEFT ANTI hash join on the "
    "priority-filtered orders projection — one fact shuffle.",
)
def rich_nonurgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    ab = bal.where(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = bal.crossJoin(F.broadcast(ab)).where(
        F.col("bal_cents") * F.col("n") > F.col("s")
    )
    idle = rich.join(
        urgent, rich["c_custkey"] == urgent["o_custkey"], "left_anti"
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("numcust"),
        F.round(F.sum("bal_cents").cast("double") / 100, 2).alias("totacctbal"),
    )


@query(
    "event_value_equidepth_hist",
    oracle="""
    WITH grp AS (
        SELECT value, CAST(count(*) AS BIGINT) AS cnt,
               CAST(round(value * 100) AS BIGINT) AS v_cents
        FROM events GROUP BY value
    ),
    cum AS (
        SELECT value, cnt, v_cents,
               CAST(sum(cnt) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM grp
    ),
    spans AS (
        SELECT v_cents, cnt, cum, n,
               unnest(range((cum - cnt) * 10 // n,
                            (cum - 1) * 10 // n + 1)) AS bucket
        FROM cum
    ),
    olap AS (
        SELECT bucket, v_cents,
               least(cum - 1, ((bucket + 1) * n + 9) // 10 - 1)
                   - greatest(cum - cnt, (bucket * n + 9) // 10) + 1
                   AS overlap
        FROM spans
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(sum(overlap) AS BIGINT) AS n_rows,
           CAST(min(v_cents) AS BIGINT) AS lo_cents,
           CAST(max(v_cents) AS BIGINT) AS hi_cents,
           CAST(sum(v_cents * overlap) AS BIGINT) AS cents_mass
    FROM olap GROUP BY bucket
    """,
    description="EXACT equi-depth histogram (10 equal-count buckets over "
    "event value) WITHOUT sorting rows — the layout primitive behind "
    "range partitioning, decile features, and monotone binning, done "
    "the way 100 TB allows: rows collapse to (distinct value, count), "
    "a distributed range-partitioned prefix sum (global_running_sum) "
    "assigns each value its row-index span [cum-cnt, cum), and pure "
    "int64 algebra intersects that span with the bucket index grid "
    "(row i -> bucket floor(i*k/n)), so a tied value straddling a "
    "boundary SPLITS exactly — counts per bucket are equal to the "
    "remainder, not approximately. Every emitted number (counts, "
    "cent-bounds, weighted mass) is an exactly-locked integer; "
    "contrast event_value_histogram (fixed-width) and "
    "doc_token_percentiles_approx (sketched cuts). Scale: one hash agg "
    "to distinct values, one range pass — never a row sort.",
)
def event_value_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    ev = _t(spark, sf_dir, "events")
    grp = ev.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(F.first("value") * 100).cast("bigint").alias("v_cents"),
    )
    n = grp.agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = global_running_sum(
        grp, order_by=["value"], value_col="cnt", out_col="cum"
    ).crossJoin(F.broadcast(n))
    spans = cum.select(
        "v_cents",
        "cnt",
        "cum",
        "n",
        F.explode(
            F.expr("sequence((cum - cnt) * 10 div n, (cum - 1) * 10 div n)")
        ).alias("bucket"),
    )
    olap = spans.select(
        "bucket",
        "v_cents",
        (
            F.least(
                F.col("cum") - 1,
                F.expr("((bucket + 1) * n + 9) div 10") - 1,
            )
            - F.greatest(
                F.col("cum") - F.col("cnt"),
                F.expr("(bucket * n + 9) div 10"),
            )
            + 1
        ).alias("overlap"),
    )
    return olap.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.sum("overlap").cast("bigint").alias("n_rows"),
        F.min("v_cents").cast("bigint").alias("lo_cents"),
        F.max("v_cents").cast("bigint").alias("hi_cents"),
        F.sum(F.col("v_cents") * F.col("overlap")).cast("bigint").alias(
            "cents_mass"
        ),
    )


@query(
    "user_daily_twap",
    oracle="""
    WITH pts AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS v_cents,
               event_id
        FROM events
    ),
    w AS (
        SELECT user_id, day, v_cents,
               coalesce(
                   lead(us) OVER (PARTITION BY user_id, day
                                  ORDER BY us, event_id),
                   epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP))
               ) - us AS w_us
        FROM pts
    )
    SELECT user_id, day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(w_us) AS BIGINT) AS covered_us,
           round(CAST(sum(v_cents * w_us) AS DOUBLE)
                 / CAST(sum(w_us) AS DOUBLE) / 100, 4) AS twap_value
    FROM w GROUP BY user_id, day
    """,
    description="TIME-WEIGHTED average (TWAP / sensor hold-interpolation "
    "— the reference's pool-telemetry domain semantic: a reading holds "
    "until the next one, so the daily mean weights each value by its "
    "HOLD DURATION, not one-per-row like avg): per user-day, each "
    "event's value (cent-quantized — round(v*100) is an integral "
    "double, casting identically in both engines) is weighted by "
    "microseconds until the next event, the last event holding to "
    "midnight. All weights and products are exact int64 (max "
    "~5e15/user-day, 1000x under overflow), so the only float op is "
    "the terminal division — bit-identical cross-engine. Scale: one "
    "shuffle on (user, day); the lead() window is per-user-day sorted "
    "scans whose size the day boundary bounds.",
)
def user_daily_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.select(
        "user_id",
        day.alias("day"),
        us.alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("v_cents"),
        "event_id",
    )
    day_end = F.unix_micros(
        F.date_add(F.col("day"), 1).cast("timestamp")
    )
    w = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    weighted = pts.select(
        "user_id",
        "day",
        "v_cents",
        (F.coalesce(F.lead("us").over(w), day_end) - F.col("us")).alias("w_us"),
    )
    return weighted.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("w_us").cast("bigint").alias("covered_us"),
        F.round(
            F.sum(F.col("v_cents") * F.col("w_us")).cast("double")
            / F.sum("w_us").cast("double")
            / 100,
            4,
        ).alias("twap_value"),
    )


_ANCESTOR_CHAIN_CTE = """
WITH RECURSIVE chain(root, node, cents, depth) AS (
    SELECT o_orderkey, o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT), 0
    FROM {orders} WHERE o_orderkey BETWEEN 1 AND 1023
    UNION ALL
    SELECT c.root, o.o_orderkey,
           c.cents + CAST(round(o.o_totalprice * 100) AS BIGINT),
           c.depth + 1
    FROM chain c JOIN {orders} o
      ON o.o_orderkey = CAST(floor(c.node / 2) AS BIGINT)
    WHERE c.node > 1
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_chains,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       CAST(count(DISTINCT root) AS BIGINT) AS n_roots
FROM chain GROUP BY depth
"""


@query(
    "order_ancestor_chain_cte",
    oracle=_ANCESTOR_CHAIN_CTE.format(orders="orders"),
    description="RECURSIVE CTE (WITH RECURSIVE — new in Spark 4, the "
    "declarative fixpoint operator that replaces the driver-side "
    "iterate-and-checkpoint loop the graph suite hand-rolls): every "
    "order key in [1, 1023] walks its binary-ancestor chain "
    "(parent = floor(node/2)) up to the root, accumulating exact "
    "integer cents along the path; the result is the per-depth chain "
    "count and path-sum mass. The SAME SQL text runs on both engines "
    "(Spark against a temp view, DuckDB against its view) — the "
    "recursion operator itself is what's value-locked, seed + step + "
    "termination (the node > 1 guard; floor(int/int) division is "
    "fractional in BOTH dialects, so the parent arithmetic is "
    "engine-identical). Scale: Spark executes each recursion level as "
    "a join of the shrinking chain frontier against the orders view, "
    "with the engine owning fixpoint detection; chain length is "
    "log2(key), so the level count is bounded and each level shrinks. "
    "r13 optimization (guide §3, problem knowledge the optimizer "
    "lacks): the recursion's reachable-key closure is provably "
    "[1, 1023] — seeds are BETWEEN 1 AND 1023 and parent = "
    "floor(node/2) only shrinks keys — so the Spark-side view is "
    "pre-filtered to o_orderkey <= 1023 before registration; each "
    "UnionLoop level then joins a ~1023-row broadcastable relation "
    "(min/max row-group pruning at the scan) instead of re-scanning "
    "and shuffling the full orders table per level. The SQL text is "
    "unchanged and the result provably identical (keys outside the "
    "closure can never appear in any level).",
)
def order_ancestor_chain_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_closure = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 1023
    )
    view = _view(spark, sf_dir, "orders_ancestor_cte", orders_closure)
    return spark.sql(_ANCESTOR_CHAIN_CTE.format(orders=view))


@query(
    "min_cost_region_supplier",
    oracle="""
    WITH eur AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    offers AS (
        SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
               CAST(min(floor(l.l_extendedprice * 100 / l.l_quantity))
                    AS BIGINT) AS cents
        FROM lineitem l
        WHERE l.l_suppkey IN (SELECT s_suppkey FROM eur)
        GROUP BY 1, 2
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_type,
           round(CAST(o.cents AS DOUBLE) / 100, 2) AS supply_cost
    FROM part p
    JOIN offers o ON o.partkey = p.p_partkey
    JOIN eur e ON e.s_suppkey = o.suppkey
    WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
      AND o.cents = (SELECT min(o2.cents) FROM offers o2
                     WHERE o2.partkey = p.p_partkey)
    """,
    description="TPC-H Q2 shape (min-cost supplier per part — the "
    "min-per-group correlated subquery): for every STANDARD mid-size "
    "part, the EUROPE supplier(s) whose cheapest historical offer ties "
    "the part's regional minimum. The partsupp relation is derived from "
    "lineitem (this schema has no partsupp): an offer is a supplier's "
    "min unit price for a part, held integer-exact as "
    "floor(extendedprice*100/quantity) cents — IEEE double division is "
    "bit-identical in both engines and floor() dodges the "
    "round-half-mode trap, so the min-equality correlation never "
    "compares lossy floats. Spark plan: the region-filtered supplier "
    "dim (supplier x nation x region) broadcasts into a semi-join that "
    "prunes lineitem BEFORE the offer aggregation; the correlated "
    "per-part min decorrelates to a window min over the offer set "
    "(same partkey partitioning as the groupBy — no extra shuffle "
    "beyond the agg) with an equality filter; part attributes and "
    "supplier details broadcast at the end. One fact shuffle total.",
)
def min_cost_region_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
        F.floor(F.col("l_extendedprice") * 100 / F.col("l_quantity")).alias(
            "unit_cents"
        ),
    )
    offers = (
        li.join(
            F.broadcast(eur.select("s_suppkey")),
            li["suppkey"] == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("partkey", "suppkey")
        .agg(F.min("unit_cents").cast("bigint").alias("cents"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("partkey")
    best = offers.withColumn("min_cents", F.min("cents").over(w)).where(
        F.col("cents") == F.col("min_cents")
    )
    parts = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_type")
    )
    return (
        best.join(F.broadcast(parts), best["partkey"] == parts["p_partkey"])
        .join(F.broadcast(eur), best["suppkey"] == eur["s_suppkey"])
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.round(F.col("cents").cast("double") / 100, 2).alias("supply_cost"),
        )
    )


@query(
    "small_part_hoarding_suppliers",
    oracle="""
    WITH ps AS (
        SELECT l_suppkey AS suppkey, l_partkey AS partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
               CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                              AND l_shipdate < TIMESTAMP '1998-01-01'
                             THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS qty_1997
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
        GROUP BY 1, 2
    )
    SELECT s.s_name, n.n_name,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(qty_1997) AS BIGINT) AS qty_1997_total
    FROM ps
    JOIN supplier s ON s.s_suppkey = ps.suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE ps.qty_1997 * 2 > ps.total_qty
    GROUP BY s.s_name, n.n_name
    """,
    description="TPC-H Q20 shape (nested IN + per-(supplier,part) "
    "correlated threshold): suppliers who concentrated MORE THAN HALF "
    "of their all-time shipped volume of some 'small%' part into the "
    "single year 1997 — per supplier, how many such parts and the "
    "concentrated volume. Q20's two nesting levels survive the "
    "adaptation: the inner IN (parts matching a name pattern) and the "
    "correlated availqty-vs-half-of-shipped threshold, with the "
    "partsupp analog derived from lineitem itself. The threshold "
    "needs the SAME relation aggregated over two horizons — computed "
    "in ONE pass as a conditional aggregate (sum + filtered sum, "
    "map-side combined), not a self-join; the comparison is "
    "integer-exact cross-multiplication (qty_1997 * 2 > total_qty, "
    "quantities are integral doubles cast to bigint). Spark plan: "
    "part-pattern dim broadcasts into a semi-join pruning the fact "
    "scan, one hash agg on (suppkey, partkey), supplier and nation "
    "dims broadcast into the final per-supplier rollup.",
)
def small_part_hoarding_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    small = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    in_1997 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    )
    ps = (
        li.join(F.broadcast(small), li["l_partkey"] == small["p_partkey"], "left_semi")
        .groupBy(
            F.col("l_suppkey").alias("suppkey"), F.col("l_partkey").alias("partkey")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
            F.sum(
                F.when(in_1997, F.col("l_quantity").cast("bigint")).otherwise(0)
            )
            .cast("bigint")
            .alias("qty_1997"),
        )
        .where(F.col("qty_1997") * 2 > F.col("total_qty"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ps.join(F.broadcast(sup), ps["suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
        .groupBy("s_name", "n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("qty_1997").cast("bigint").alias("qty_1997_total"),
        )
    )


@query(
    "top_revenue_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           round(CAST(r.rev_cents AS DOUBLE) / 100, 2) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.rev_cents = (SELECT max(rev_cents) FROM rev)
    """,
    description="TPC-H Q15 shape (scalar max over an aggregate view — "
    "the top-revenue supplier): quarterly discounted revenue per "
    "supplier, then the supplier(s) whose revenue equals the global "
    "maximum — the aggregate-of-aggregate correlation Q15 expresses "
    "through a view. Revenue is integer-exact: per-row "
    "floor(extendedprice*(1-discount)*100) cents (IEEE product is "
    "bit-identical in both engines, floor has no rounding-mode "
    "ambiguity, bigint sums are associative), so the max-equality "
    "comparison can never disagree at the boundary the way a "
    "float-accumulated revenue could. Spark plan: one hash agg on "
    "suppkey over the date-pruned scan, the single-row max broadcast "
    "crossJoined back (no second fact pass, no window over a global "
    "partition), supplier names broadcast.",
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        )
        .cast("bigint")
        .alias("rev_cents")
    )
    mx = rev.agg(F.max("rev_cents").alias("max_cents"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev_cents") == F.col("max_cents"))
        .join(F.broadcast(sup), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_cents").cast("double") / 100, 2).alias(
                "total_revenue"
            ),
        )
    )


@query(
    "bilateral_shipping_volume",
    oracle="""
    WITH sn AS (
        SELECT s_suppkey, n_name AS supp_nation
        FROM supplier JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2')
    ),
    cn AS (
        SELECT c_custkey, n_name AS cust_nation
        FROM customer JOIN nation ON n_nationkey = c_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2')
    )
    SELECT supp_nation, cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                     * 100) AS BIGINT)) AS DOUBLE) / 100,
                 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN sn ON sn.s_suppkey = l_suppkey
    JOIN cn ON cn.c_custkey = o_custkey
    WHERE supp_nation <> cust_nation
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    description="TPC-H Q7 shape (volume shipping between two nations): "
    "discounted revenue flowing each direction between NATION_1 and "
    "NATION_2 per ship year — the classic two-dimension-table "
    "double-role join (nation joins the fact twice: once through the "
    "supplier, once through the customer) with the cross-pair "
    "inequality. Revenue is integer-exact floor-cents (bigint sums are "
    "associative; both engines floor the identical IEEE product). "
    "Spark plan: both nation-filtered dims broadcast (supplier x "
    "nation and customer x nation are each tiny after the IN filter), "
    "the date filter pushes to the lineitem scan, one orderkey shuffle "
    "joins the two facts, then a 3-key hash agg — no SMJ at any SF.",
)
def bilateral_shipping_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(sn), F.col("l_suppkey") == sn["s_suppkey"])
        .join(F.broadcast(cn), F.col("o_custkey") == cn["c_custkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    )
                )
                .cast("double")
                / 100,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@query(
    "region_market_share",
    oracle="""
    WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS cents,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cnat ON cnat.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = cnat.n_regionkey
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents
                         ELSE 0 END) AS BIGINT) AS nation_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents
                              ELSE 0 END) AS DOUBLE)
                 / CAST(sum(cents) AS DOUBLE), 4) AS mkt_share
    FROM vol GROUP BY o_year
    """,
    description="TPC-H Q8 shape (national market share): NATION_3's "
    "share of PROMO-part order volume delivered into the AMERICA "
    "region per order year — the widest dim fan in the suite (nation "
    "twice, region, part, supplier, customer all joined onto the "
    "lineitem x orders fact pair). Share is a conditional aggregate "
    "over ONE pass (never two scans joined); numerator and denominator "
    "are exact floor-cent bigints exposed alongside the rounded ratio, "
    "so the division is one deterministic double op on exact inputs. "
    "Spark plan: every dim broadcasts (all are sub-MB after filters at "
    "any SF — nation/region always, part/supplier/customer as filtered "
    "projections), the date filter pushes to the orders scan, one "
    "orderkey shuffle, one tiny year agg.",
)
def region_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    cust_am = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sup_nat = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    promo = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(promo), li["l_partkey"] == promo["p_partkey"], "left_semi")
        .join(
            F.broadcast(cust_am),
            F.col("o_custkey") == cust_am["c_custkey"],
            "left_semi",
        )
        .join(F.broadcast(sup_nat), F.col("l_suppkey") == sup_nat["s_suppkey"])
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).alias("cents"),
            "supp_nation",
        )
    )
    is_n3 = F.col("supp_nation") == "NATION_3"
    return vol.groupBy("o_year").agg(
        F.sum(F.when(is_n3, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("nation_cents"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.round(
            F.sum(F.when(is_n3, F.col("cents")).otherwise(0)).cast("double")
            / F.sum("cents").cast("double"),
            4,
        ).alias("mkt_share"),
    )


@query(
    "supplier_nation_margin",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                     * 100) AS BIGINT)
                           - CAST(l.l_quantity AS BIGINT)
                             * CAST(floor(p.p_retailprice * 90) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS margin
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
    description="TPC-H Q9 shape (product-type profit by nation and "
    "year): per supplier nation and order year, the margin earned on "
    "parts whose name matches a pattern. This schema has no partsupp "
    "supplycost, so cost basis is 90% of the part's retail price per "
    "unit (deterministic and dimension-derived, preserving Q9's "
    "structure: the profit expression mixes FACT columns with a "
    "PART-dim column, which is what forces the part join before the "
    "aggregate). All arithmetic is exact bigint cents — "
    "floor(revenue*100) minus qty * floor(retail*90) — summed then "
    "divided once for display. Spark plan: name-filtered part dim "
    "broadcasts (prunes the fact first), supplier/nation broadcast, "
    "one orderkey shuffle for the year column, one (nation, year) agg.",
)
def supplier_nation_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    sup_nat = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    amount = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ) - F.col("l_quantity").cast("bigint") * F.floor(
        F.col("p_retailprice") * 90
    )
    return (
        li.join(F.broadcast(parts), li["l_partkey"] == parts["p_partkey"])
        .join(F.broadcast(sup_nat), F.col("l_suppkey") == sup_nat["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            "supp_nation", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(
            F.round(F.sum(amount).cast("double") / 100, 2).alias("margin")
        )
    )


@query(
    "important_part_values",
    oracle="""
    WITH val AS (
        SELECT l.l_partkey AS partkey,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM lineitem l
        WHERE l.l_suppkey IN (
            SELECT s_suppkey FROM supplier JOIN nation
              ON n_nationkey = s_nationkey
            WHERE n_name IN ('NATION_5', 'NATION_10', 'NATION_15')
        )
        GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_parts FROM val)
    SELECT partkey,
           round(CAST(value_cents AS DOUBLE) / 100, 2) AS part_value
    FROM val, tot
    WHERE CAST(value_cents AS DECIMAL(38,0)) * n_parts * 4 > total * 5
    """,
    description="TPC-H Q11 shape (important stock, the global-fraction "
    "HAVING): parts whose traded value through a three-nation supplier "
    "slice exceeds 1.25x the slice's uniform per-part share — the "
    "aggregate-vs-scalar-subquery-over-the-same-aggregate correlation. "
    "Q11's spec fraction is itself SF-scaled (0.0001/SF); here the "
    "scaling is data-derived instead of parameter-derived: the scalar "
    "profile carries (total, n_parts) and the threshold is "
    "value * n_parts * 4 > total * 5, so the query selects the "
    "above-average tail at EVERY scale factor rather than going empty "
    "as soon as the part count outgrows a pinned denominator. "
    "Without partsupp, value is lineitem-derived discounted revenue "
    "per part (exact floor-cents). The fraction compare is integer "
    "cross-multiplication with the left side in decimal(38,0) "
    "(value_cents * n_parts * 4 can pass 2^63 on a 100 TB slice), so "
    "no float threshold exists to disagree at the boundary and no "
    "silent bigint wrap either. Spark plan: nation-filtered "
    "supplier dim broadcasts into a semi-join pruning the scan, one "
    "partkey hash agg, the single-row total broadcast crossJoined for "
    "the filter — Catalyst evaluates the scalar subquery ONCE, never "
    "per row.",
)
def important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").where(
                    F.col("n_name").isin("NATION_5", "NATION_10", "NATION_15")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    val = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"], "left_semi")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                )
            )
            .cast("bigint")
            .alias("value_cents")
        )
    )
    tot = val.agg(
        F.sum("value_cents").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .where(
            F.col("value_cents").cast("decimal(38,0)")
            * F.col("n_parts")
            * 4
            > F.col("total") * 5
        )
        .select(
            "partkey",
            F.round(F.col("value_cents").cast("double") / 100, 2).alias(
                "part_value"
            ),
        )
    )


@query(
    "supplier_diversity_counts",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
                FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.partkey
    WHERE p.p_brand <> 'Brand#2'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND ps.suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    description="TPC-H Q16 shape (supplier diversity per part "
    "attribute, with the NOT-IN exclusion subquery): how many distinct "
    "acceptable suppliers have shipped each (brand, type, size) combo, "
    "excluding one brand, restricting to the classic 8-size set, and "
    "blacklisting negative-balance suppliers — the supplier-DIM "
    "predicate standing in for Q16's comment-LIKE complaints filter "
    "(this schema has no comment column; ~6% of suppliers qualify, "
    "matching Q16's selectivity spirit). partsupp is derived as the "
    "distinct (part, supplier) shipping relation. The NOT IN is "
    "null-safe here (suppkey is non-null) and decorrelates to a LEFT "
    "ANTI hash join; count(DISTINCT supplier) is Spark's two-phase "
    "expand-aggregate, partitioned by the group keys. Part attributes "
    "broadcast; the blacklist is a tiny dim slice, also broadcast.",
)
def supplier_diversity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    bad_sup = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("sk"))
    )
    ps = li.select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    parts = (
        _t(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#2")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(F.broadcast(bad_sup), ps["suppkey"] == bad_sup["sk"], "left_anti")
        .join(F.broadcast(parts), ps["partkey"] == parts["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("suppkey").cast("bigint").alias("supplier_cnt"))
    )


@query(
    "brand_bracket_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                     * 100) AS BIGINT)) AS DOUBLE) / 100,
                 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    description="TPC-H Q19 shape (disjunctive multi-bracket predicate): "
    "discounted revenue over three OR'd (brand, size-range, "
    "quantity-bracket) arms that each mix PART-dim and FACT columns — "
    "the disjunction famously defeats naive predicate pushdown because "
    "no single conjunct applies to either side alone. What Catalyst "
    "does (and the plan lock protects): the dim-only implication "
    "(brand IN the 3 brands AND size <= 15) is FACTORED OUT and pushed "
    "to the part scan, the quantity range union (1..30) pushes to the "
    "fact scan, the shrunken part side broadcasts, and the full "
    "disjunction evaluates as the join residual. Revenue exact "
    "floor-cents as everywhere.",
)
def brand_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    parts = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(parts), li["l_partkey"] == parts["p_partkey"])
        .where(arm)
        .agg(
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    )
                )
                .cast("double")
                / 100,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Round-9 additions: skyline (Pareto-dominance), closed-form multi-predictor
# OLS, split-conformal prediction intervals, Fellegi-Sunter entity-resolution
# scoring — four operator classes the registry did not yet cover.
# ---------------------------------------------------------------------------


@query(
    "part_price_size_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_brand, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
    description="SKYLINE operator, banded-prefix variant (Pareto frontier: "
    "minimize retail price, maximize size — parts no other part beats on "
    "both axes; mixed-direction objectives, vs segment_pareto_customers' "
    "max/max per-group skyline_2d). The spec is "
    "the NOT EXISTS dominance anti-join (and that IS the oracle), but "
    "evaluating it literally is an O(n^2) self-join — a cluster-killer on "
    "a 100 TB dim. The 2-D skyline admits an exact prefix-max rewrite: "
    "collapse rows to (distinct price -> max size) with one hash agg, then "
    "a part is on the frontier iff its size EQUALS the max at its price "
    "and EXCEEDS the max over all strictly cheaper prices. Where "
    "ops.relational.skyline_2d runs that prefix as ONE window over the "
    "group's whole distinct-x frame (fine when distinct x fits a task; "
    "its docstring prescribes pre-thinning otherwise), this query IS the "
    "pre-thinned form, realized two-level (same shape as the equi-depth "
    "histogram's distributed prefix sum): an in-band window PARTITIONED by "
    "the integer price band runs in parallel, and the cross-band offsets "
    "come from a #bands-row table whose global window is driver-scale. "
    "Frontier prices (a handful) broadcast back onto the scan. Total cost: "
    "two hash aggs + one broadcast join — never a pairwise product, never "
    "a single-task global sort, and no single task ever holds a full "
    "distinct-x frame.",
)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.relational import skyline_2d_banded

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    return skyline_2d_banded(
        part, x="p_retailprice", y="p_size", band_width=1.0
    ).select("p_partkey", "p_brand", "p_size", "p_retailprice")


# Cramer's-rule determinants for the 3x3 normal equations of a 2-predictor
# OLS fit, written ONCE as SQL text and interpolated into BOTH the Spark
# selectExpr and the DuckDB oracle — identical expression trees over
# identical exact-integer inputs evaluate to bit-identical doubles, so the
# rounded coefficients can't diverge on summation or association order.
# A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], b = [sy,s1y,s2y]; _OLS_D is
# det(A), _OLS_D0/1/2 are det(A) with column 0/1/2 replaced by b.
_OLS_D = "(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
_OLS_D0 = "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y))"
_OLS_D1 = "(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))"
_OLS_D2 = "(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))"
# R^2 from the same sums: SSR = b.beta - (sum y)^2/n, SST = Syy - (sum y)^2/n,
# with beta in cents units (the /100 rescale cancels in the ratio).
_OLS_R2 = (
    f"((({_OLS_D0})/({_OLS_D})*sy + ({_OLS_D1})/({_OLS_D})*s1y"
    f" + ({_OLS_D2})/({_OLS_D})*s2y - sy*sy/n) / (syy - sy*sy/n))"
)

_OLS_SUMS_SQL = """
        SELECT CAST(count(*) AS BIGINT)            AS n_rows,
               CAST(count(*) AS DOUBLE)            AS n,
               CAST(sum(x1) AS DOUBLE)             AS s1,
               CAST(sum(x2) AS DOUBLE)             AS s2,
               CAST(sum(x1 * x1) AS DOUBLE)        AS s11,
               CAST(sum(x2 * x2) AS DOUBLE)        AS s22,
               CAST(sum(x1 * x2) AS DOUBLE)        AS s12,
               CAST(sum(yc) AS DOUBLE)             AS sy,
               CAST(sum(x1 * yc) AS DOUBLE)        AS s1y,
               CAST(sum(x2 * yc) AS DOUBLE)        AS s2y,
               CAST(sum(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy
"""


@query(
    "event_value_ols2",
    oracle=f"""
    WITH base AS (
        SELECT CAST(hour(ts) AS BIGINT) AS x1,
               CAST(day(ts) AS BIGINT)  AS x2,
               CAST(round(value * 100) AS BIGINT) AS yc
        FROM events
    ),
    sums AS ({_OLS_SUMS_SQL} FROM base)
    SELECT n_rows,
           round(({_OLS_D0})/({_OLS_D})/100, 6) AS beta0,
           round(({_OLS_D1})/({_OLS_D})/100, 6) AS beta_hour,
           round(({_OLS_D2})/({_OLS_D})/100, 6) AS beta_dom,
           round({_OLS_R2}, 6) AS r2
    FROM sums
    """,
    description="Closed-form MULTIPLE linear regression (2 predictors + "
    "intercept) via the normal equations — regress event value on hour-of-"
    "day and day-of-month in ONE distributed aggregate pass: the 3x3 Gram "
    "matrix X'X and moment vector X'y are nine sums, every one EXACT "
    "integer arithmetic (value cent-quantized like the TWAP gate; x1,x2 "
    "are small ints; the y^2 moment accumulates in decimal(38,0) so no "
    "scale factor overflows int64), then Cramer's rule solves the system "
    "in closed form. The determinant SQL text is interpolated into BOTH "
    "engines (see _OLS_D*) so the post-aggregate double arithmetic is "
    "structurally identical and the round(...,6) can't see engine "
    "association differences. This is the never-iterate, never-collect "
    "regression pattern: at 100 TB the fit is one map-side-combined agg "
    "(a dozen numbers per partition) regardless of row count, the same "
    "partial-moment trick as embedding_covariance's X'X.",
)
def event_value_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.hour("ts").cast("bigint").alias("x1"),
        F.dayofmonth("ts").cast("bigint").alias("x2"),
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    )
    view = _view(spark, sf_dir, "ols2_base", base)
    sums = ev.sparkSession.sql(f"{_OLS_SUMS_SQL} FROM {view}")
    return sums.selectExpr(
        "n_rows",
        f"round(({_OLS_D0})/({_OLS_D})/100, 6) AS beta0",
        f"round(({_OLS_D1})/({_OLS_D})/100, 6) AS beta_hour",
        f"round(({_OLS_D2})/({_OLS_D})/100, 6) AS beta_dom",
        f"round({_OLS_R2}, 6) AS r2",
    )


def _conformal_fit(spark: SparkSession, sf_dir: str):
    """Shared split-conformal fit over orders (used by the batch gate
    and the streaming quarantine twin): hash-split 60/20 train/cal on
    o_orderkey % 10, group-mean model per priority, and the exact
    ceil(0.9(n+1))-th calibration residual selected by banded
    k-th-element. Returns (base, model, n_cal, k, q_hat) — model is a
    broadcastable DataFrame, the rest driver scalars."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("tp_cents"),
        (F.col("o_orderkey") % 10).alias("b"),
    )
    model = (
        base.where("b < 6")
        .groupBy("o_orderpriority")
        .agg(
            (F.sum("tp_cents").cast("double") / F.count(F.lit(1))).alias(
                "pred"
            )
        )
    )
    cal = (
        base.where("b IN (6, 7)")
        .join(F.broadcast(model), "o_orderpriority")
        .select(
            "o_orderkey",
            F.abs(F.col("tp_cents") - F.col("pred")).alias("r"),
        )
    )
    band = F.floor(F.col("r") / 100000.0).cast("bigint")
    # Tiny per-band histogram: #bands ~ (price range)/$1000, a driver-scale
    # scalar read like a watermark — NOT a corpus collect.
    hist = sorted(
        cal.groupBy(band.alias("band")).count().collect(),
        key=lambda row: row["band"],
    )
    if not hist:
        raise ValueError(
            "conformal calibration split is empty: no orders landed in "
            "buckets 6-7 — cannot fit a quantile band"
        )
    n_cal = sum(row["count"] for row in hist)
    # ceil(0.9*(n+1)) in pure int math, clamped to n — mirrors the oracle
    # exactly (binary-float 0.9*(n+1) can land on the wrong side of an
    # integer; DuckDB's DECIMAL product never does).
    k = min((9 * (n_cal + 1) + 9) // 10, n_cal)
    # k <= n_cal guarantees the cumulative scan always selects a band
    cum = 0
    for row in hist:
        if cum + row["count"] >= k:
            sel_band, k_in = row["band"], k - cum
            break
        cum += row["count"]
    w = Window.orderBy("r", "o_orderkey")  # band-local rows only: bounded
    q_hat = (
        cal.where(band == F.lit(sel_band))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == k_in)
        .select("r")
        .collect()[0]["r"]
    )
    return base, model, n_cal, k, q_hat



@query(
    "order_conformal_interval",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS tp_cents,
               o_orderkey % 10 AS b
        FROM orders
    ),
    model AS (
        SELECT o_orderpriority,
               CAST(sum(tp_cents) AS DOUBLE) / count(*) AS pred
        FROM base WHERE b < 6 GROUP BY o_orderpriority
    ),
    cal AS (
        SELECT abs(base.tp_cents - model.pred) AS r, base.o_orderkey
        FROM base JOIN model USING (o_orderpriority) WHERE b IN (6, 7)
    ),
    stats AS (
        -- ceil(0.9*(n+1)) in pure int64 (ceil-div), clamped to n: DECIMAL
        -- vs binary-float 0.9*(n+1) can straddle an integer, int math can't
        SELECT CAST(count(*) AS BIGINT) AS n_cal,
               CAST(least((9 * (count(*) + 1) + 9) // 10, count(*))
                    AS BIGINT) AS k
        FROM cal
    ),
    ranked AS (
        SELECT r, row_number() OVER (ORDER BY r, o_orderkey) AS rn FROM cal
    ),
    q AS (SELECT r AS q_hat FROM ranked, stats WHERE rn = k),
    test AS (
        SELECT abs(base.tp_cents - model.pred) AS r
        FROM base JOIN model USING (o_orderpriority) WHERE b >= 8
    )
    SELECT stats.n_cal, stats.k,
           round(q.q_hat / 100, 4) AS q_hat,
           CAST(count(*) AS BIGINT) AS n_test,
           round(avg(CASE WHEN test.r <= q.q_hat THEN 1.0 ELSE 0.0 END), 6)
               AS coverage
    FROM test, q, stats
    GROUP BY stats.n_cal, stats.k, q.q_hat
    """,
    description="SPLIT-CONFORMAL prediction interval with finite-sample "
    "guarantee: hash-split orders 60/20/20 (train/calibration/test on "
    "o_orderkey % 10 — deterministic, no RNG), fit the group-mean model "
    "per order priority on train, take the ceil(0.9*(n+1))-th smallest "
    "absolute calibration residual as the interval half-width (the exact "
    "conformal order statistic, ties broken by orderkey), and report "
    "empirical coverage on the held-out test split. The k-th-element "
    "SELECTION is the scale story: no global sort and no single-task "
    "window over the corpus — per-$1000 residual bands are counted with "
    "one hash agg, the tiny band histogram is scanned driver-side (a "
    "watermark-scale scalar, same discipline as the autotuner profile) to "
    "locate the band holding rank k, and only THAT band's rows (a "
    "1/width fraction of the data) are sorted to extract the order "
    "statistic. Model means are exact cent-integer sums divided once in "
    "double, identically on both engines.",
)
def order_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, model, n_cal, k, q_hat = _conformal_fit(spark, sf_dir)
    test = (
        base.where("b >= 8")
        .join(F.broadcast(model), "o_orderpriority")
        .select(F.abs(F.col("tp_cents") - F.col("pred")).alias("r"))
    )
    return test.agg(
        F.lit(n_cal).cast("bigint").alias("n_cal"),
        F.lit(k).cast("bigint").alias("k"),
        F.round(F.lit(q_hat) / 100, 4).alias("q_hat"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(
            F.avg(F.when(F.col("r") <= F.lit(q_hat), 1.0).otherwise(0.0)), 6
        ).alias("coverage"),
    )


def _er_blocked_pairs(
    spark: SparkSession, sf_dir: str, bal_band_cents: int = 100_000
) -> DataFrame:
    """Shared candidate generation for the ER family (scorer / EM fit /
    entity clusters): customer features (cent-exact balance, name
    suffix, $1000 balance band) self-joined on the composite block
    (nation, segment, balance band) with a shuffle-hash hint — pair
    count bounded by sum of block sizes squared, never corpus^2. The
    agreement predicates live on the returned a.*/b.* columns:
    name-suffix equality and balance-within-$100.

    ``bal_band_cents`` is the SCALE DIAL: block count is fixed
    (nations x segments x bands), so per-block size — and pair count —
    grows quadratically with corpus size (measured: 846 -> 82k -> 8.2M
    pairs across sf0.01/0.1/1, ~100x per 10x customers). Dividing the
    band width by k multiplies block count by k and divides pair cost
    by ~k, at the standard blocking-recall price: measured at sf1,
    $100 bands cut pairs 9.9x and retain 52% of the above-threshold
    matches — exactly the band-edge straddle (a pair within $100 lands
    in the same $100 band ~half the time); recover it with two-bucket
    emission (block on band AND band+1, the sorted-neighborhood
    overlap trick) at 2x pair cost. The registry queries pin the $1000
    default so their oracles stay closed-form."""
    cust = _t(spark, sf_dir, "customer")
    feat = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
        F.expr("right(c_name, 3)").alias("name3"),
    ).withColumn(
        "balk",
        F.floor(F.col("bal_cents") / F.lit(float(bal_band_cents))).cast(
            "bigint"
        ),
    )
    a, b = feat.alias("a"), feat.alias("b")
    return a.hint("shuffle_hash").join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.balk") == F.col("b.balk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    )


def _er_predicates():
    """(name-suffix equality, balance-within-$100) over _er_blocked_pairs
    columns — built lazily because Column construction needs the JVM."""
    return (
        F.col("a.name3") == F.col("b.name3"),
        F.abs(F.col("a.bal_cents") - F.col("b.bal_cents")) < 10000,
    )


@query(
    "customer_er_match_scores",
    oracle="""
    WITH feat AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
               right(c_name, 3) AS name3,
               CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 100000.0)
                    AS BIGINT) AS balk
        FROM customer
    )
    SELECT a.c_custkey AS a_custkey, b.c_custkey AS b_custkey,
           a.name3 = b.name3 AS name3_agree,
           abs(a.bal_cents - b.bal_cents) < 10000 AS bal_close,
           round(CASE WHEN a.name3 = b.name3 THEN 6.5 ELSE -4.3 END
                 + CASE WHEN abs(a.bal_cents - b.bal_cents) < 10000
                        THEN 2.0 ELSE -1.5 END, 2) AS score
    FROM feat a JOIN feat b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.balk = b.balk
     AND a.c_custkey < b.c_custkey
    ORDER BY score DESC, a_custkey, b_custkey
    LIMIT 50
    """,
    description="Fellegi-Sunter ENTITY-RESOLUTION match scoring — the "
    "probabilistic record-linkage pattern (Fellegi & Sunter 1969): "
    "candidate pairs come from BLOCKING, each compared field contributes "
    "its log-likelihood agreement/disagreement weight (literal log(m/u) "
    "constants here: name-suffix +6.5/-4.3, balance-within-$100 "
    "+2.0/-1.5), and the pair score is the weight sum; top-50 scored "
    "pairs with a total ordering tie-break. The scale architecture is the "
    "whole point: the self-join keys on the COMPOSITE BLOCK (nation, "
    "segment, $1000-balance-band) so the pair count is sum of "
    "block_size^2, never corpus^2 — the same recall/cost dial as "
    "sorted-neighborhood and LSH banding (band edges cost recall: a true "
    "pair straddling a balance band is missed — disclosed, the standard "
    "blocking tradeoff). Hinted shuffle-hash so the plan stays "
    "SMJ-free when both sides outgrow broadcast; a hot block (skewed "
    "nation x segment) sub-blocks by tightening the balance band, the "
    "knob the $1000 band already is. Top-50 collapses to "
    "TakeOrderedAndProject — no global sort materializes.",
)
def customer_er_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _er_blocked_pairs(spark, sf_dir)
    name3_agree, bal_close = _er_predicates()
    scored = pairs.select(
        F.col("a.c_custkey").alias("a_custkey"),
        F.col("b.c_custkey").alias("b_custkey"),
        name3_agree.alias("name3_agree"),
        bal_close.alias("bal_close"),
        F.round(
            F.when(name3_agree, F.lit(6.5)).otherwise(F.lit(-4.3))
            + F.when(bal_close, F.lit(2.0)).otherwise(F.lit(-1.5)),
            2,
        ).alias("score"),
    )
    return scored.orderBy(
        F.col("score").desc(), "a_custkey", "b_custkey"
    ).limit(50)


@query(
    "channel_shapley_attribution",
    oracle="""
    WITH journey AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                  + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS mask,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id, day
    ),
    vobs AS (
        -- touchpoint-free journeys (mask 0: purchase-only days) are not
        -- attributable; excluding them pins the baseline v({}) at 0
        SELECT mask, count(*) AS n_users, sum(conv) AS n_conv
        FROM journey WHERE mask > 0 GROUP BY mask
    ),
    allm AS (SELECT CAST(range AS BIGINT) AS mask FROM range(16)),
    v AS (
        SELECT allm.mask,
               coalesce(CAST(n_conv AS DOUBLE) / n_users, 0.0) AS v
        FROM allm LEFT JOIN vobs ON allm.mask = vobs.mask
    ),
    ch AS (SELECT * FROM (VALUES ('view', 1), ('click', 2),
                                 ('signup', 4), ('error', 8))
                  t(channel, bit)),
    contrib AS (
        SELECT ch.channel,
               (CASE (CASE WHEN (vs.mask & 1) > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN (vs.mask & 2) > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN (vs.mask & 4) > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN (vs.mask & 8) > 0 THEN 1 ELSE 0 END)
                  WHEN 0 THEN CAST(0.25 AS DOUBLE)
                  WHEN 3 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(1 AS DOUBLE) / 12 END)
               * (vi.v - vs.v) AS term
        FROM ch
        JOIN v vs ON (vs.mask & ch.bit) = 0
        JOIN v vi ON vi.mask = vs.mask + ch.bit
    )
    SELECT channel,
           round(CAST(sum(CAST(term AS DECIMAL(38,10))) AS DOUBLE), 6)
               AS shapley
    FROM contrib GROUP BY channel
    """,
    description="EXACT Shapley-value marketing attribution over the "
    "channel power set (the game-theoretic credit split — Shapley 1953, "
    "applied to conversion paths a la Zhao et al. 2018): each "
    "(user, day) JOURNEY collapses to a 4-bit touched-channel mask "
    "(view/click/signup/error) + converted-that-day flag, the coalition "
    "value v(S) is the observed conversion rate of journeys with "
    "EXACTLY that channel set (0 for "
    "unobserved coalitions — the simplified-Shapley convention), and "
    "each channel's credit is the classic weighted sum of marginal "
    "contributions v(S+i)-v(S) over all 8 coalitions excluding it, "
    "weights |S|!(n-1-|S|)!/n!. Scale shape: ONE (user, day) hash agg "
    "over the corpus, then every downstream table is 2^k rows (16) — the "
    "exponential lives in the CHANNEL count, never the row count "
    "(exact Shapley is the k<=~20 regime; beyond that, permutation "
    "sampling). The marginal-contribution sum crosses only 8 terms but "
    "still goes through the decimal stable-sum so engine summation "
    "order can't flip the 6th digit.",
)
def channel_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def touched(t: str) -> F.Column:
        return F.max(F.when(F.col("event_type") == t, 1).otherwise(0))

    journey = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        (
            touched("view")
            + touched("click") * 2
            + touched("signup") * 4
            + touched("error") * 8
        )
        .cast("bigint")
        .alias("mask"),
        touched("purchase").alias("conv"),
    )
    # touchpoint-free journeys (mask 0) are not attributable — dropping
    # them keeps the empty-coalition baseline at v({}) = 0
    vobs = journey.where(F.col("mask") > 0).groupBy("mask").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("conv").alias("n_conv")
    )
    allm = spark.range(16).select(F.col("id").cast("bigint").alias("mask"))
    v = allm.join(F.broadcast(vobs), "mask", "left").select(
        "mask",
        F.coalesce(
            F.col("n_conv").cast("double") / F.col("n_users"), F.lit(0.0)
        ).alias("v"),
    )
    ch = spark.createDataFrame(
        [("view", 1), ("click", 2), ("signup", 4), ("error", 8)],
        "channel string, bit bigint",
    )
    vs, vi = v.alias("vs"), v.alias("vi")
    contrib = (
        ch.join(
            F.broadcast(vs), (F.col("vs.mask").bitwiseAND(F.col("bit"))) == 0
        )
        .join(
            F.broadcast(vi),
            F.col("vi.mask") == F.col("vs.mask") + F.col("bit"),
        )
        .select(
            "channel",
            (
                F.expr(
                    "CASE (CASE WHEN (vs.mask & 1) > 0 THEN 1 ELSE 0 END)"
                    " + (CASE WHEN (vs.mask & 2) > 0 THEN 1 ELSE 0 END)"
                    " + (CASE WHEN (vs.mask & 4) > 0 THEN 1 ELSE 0 END)"
                    " + (CASE WHEN (vs.mask & 8) > 0 THEN 1 ELSE 0 END)"
                    " WHEN 0 THEN CAST(0.25 AS DOUBLE)"
                    " WHEN 3 THEN CAST(0.25 AS DOUBLE)"
                    " ELSE CAST(1 AS DOUBLE) / 12 END"
                )
                * (F.col("vi.v") - F.col("vs.v"))
            ).alias("term"),
        )
    )
    return contrib.groupBy("channel").agg(
        F.round(
            F.sum(F.col("term").cast("decimal(38,10)")).cast("double"), 6
        ).alias("shapley")
    )


# Two-sided normal-tail p-value from a z column, via the Abramowitz &
# Stegun 7.1.26 erfc approximation (max abs error 1.5e-7 — far inside the
# round(.,6) the outputs carry): p = erfc(|z|/sqrt(2)). Written ONCE as SQL
# text and interpolated into BOTH engines so the double arithmetic is
# structurally identical (same discipline as _OLS_D*). Spark has no erf
# built-in; this IS the closed form, not a stand-in.
_AS_ERFC_P = (
    "((0.254829592 * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(CAST(2 AS DOUBLE)))))"
    " + -0.284496736 * pow(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(CAST(2 AS DOUBLE)))), 2)"
    " + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(CAST(2 AS DOUBLE)))), 3)"
    " + -1.453152027 * pow(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(CAST(2 AS DOUBLE)))), 4)"
    " + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(CAST(2 AS DOUBLE)))), 5))"
    " * exp(-((abs(z) / sqrt(CAST(2 AS DOUBLE))) * (abs(z) / sqrt(CAST(2 AS DOUBLE)))))"
    ")"
)


@query(
    "hourly_value_bh_fdr",
    oracle=f"""
    WITH cells AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS n_c,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_c
        FROM events GROUP BY event_type, hr
    ),
    gprof AS (
        SELECT CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_g,
               CAST(sum(CAST(round(value * 100) AS BIGINT)
                        * CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   AS sumsq_g
        FROM events
    ),
    zt AS (
        SELECT event_type, hr, n_c,
               (CAST(sum_c AS DOUBLE) / n_c - CAST(sum_g AS DOUBLE) / n_g)
               / sqrt((sumsq_g / n_g
                       - (CAST(sum_g AS DOUBLE) / n_g)
                         * (CAST(sum_g AS DOUBLE) / n_g)) / n_c) AS z
        FROM cells CROSS JOIN gprof
    ),
    pt AS (
        SELECT event_type, hr, n_c, z, {_AS_ERFC_P} AS p,
               count(*) OVER () AS m
        FROM zt
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY p, event_type, hr) AS rnk
        FROM pt
    ),
    cut AS (
        SELECT *, max(CASE WHEN p <= rnk * CAST(0.1 AS DOUBLE) / m
                           THEN rnk ELSE 0 END)
                      OVER () AS k_star
        FROM ranked
    )
    SELECT event_type, hr, n_c,
           round(z, 4) AS z_score, round(p, 6) AS p_value,
           CAST(rnk AS BIGINT) AS bh_rank,
           CASE WHEN rnk <= k_star THEN 1 ELSE 0 END AS discovery
    FROM cut
    """,
    description="BENJAMINI-HOCHBERG FDR control over a 120-hypothesis "
    "family — per-(event_type, hour-of-day) z-tests of mean event value "
    "vs the global mean (the 'which cells are really anomalous' "
    "question that per-test alpha=0.05 answers wrongly 6 times per 120 "
    "cells): exact cent-integer cell/global moments feed the z, the "
    "two-sided normal tail comes from the Abramowitz-Stegun 7.1.26 "
    "erfc closed form (Spark has no erf builtin; the SAME formula text "
    "runs on both engines, error 1.5e-7 << the rounding), p-values are "
    "BH-stepped-up at q=0.1 (rank window + running max over the "
    "m-row family — tiny by construction) and every cell reports its "
    "rank and discovery flag. Scale: the corpus pass is ONE hash agg "
    "to 120 cells + a 1-row global profile broadcast; the entire "
    "multiple-testing machinery runs on the m-row frame. The "
    "experimentation-stack completion: ztest (single test) -> CUPED/"
    "DiD (variance reduction / causal) -> BH (family-wise honesty).",
)
def hourly_value_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.sum(cents).cast("bigint").alias("sum_c"),
    )
    glob = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(cents).cast("bigint").alias("sum_g"),
        # cents^2 sums pass 2^63 at corpus scale — accumulate
        # decimal(38,0) exactly, then one cast to double (the same
        # discipline as order_neyman_allocation / daily_value_acf;
        # DuckDB's sum(BIGINT) widens to HUGEINT by itself)
        F.sum((cents * cents).cast("decimal(38,0)"))
        .cast("double")
        .alias("sumsq_g"),
    )
    mean_g = F.col("sum_g").cast("double") / F.col("n_g")
    var_g = F.col("sumsq_g") / F.col("n_g") - mean_g * mean_g
    zt = cells.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "hr",
        "n_c",
        (
            (F.col("sum_c").cast("double") / F.col("n_c") - mean_g)
            / F.sqrt(var_g / F.col("n_c"))
        ).alias("z"),
    )
    # everything below runs on the m-row hypothesis family (120 cells);
    # the unpartitioned windows are family-scale, not corpus-scale
    pt = zt.withColumn("p", F.expr(_AS_ERFC_P)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    ranked = pt.withColumn(
        "rnk", F.row_number().over(Window.orderBy("p", "event_type", "hr"))
    )
    cut = ranked.withColumn(
        "k_star",
        F.max(
            F.when(
                F.col("p")
                <= F.col("rnk") * F.expr("CAST(0.1 AS DOUBLE)") / F.col("m"),
                F.col("rnk"),
            ).otherwise(F.lit(0))
        ).over(Window.partitionBy()),
    )
    return cut.select(
        "event_type",
        "hr",
        "n_c",
        F.round("z", 4).alias("z_score"),
        F.round("p", 6).alias("p_value"),
        F.col("rnk").cast("bigint").alias("bh_rank"),
        F.when(F.col("rnk") <= F.col("k_star"), 1).otherwise(0).alias(
            "discovery"
        ),
    )


# Fellegi-Sunter EM: the fixpoint loop over a 1-ROW state relation.
# The oracle runs it as WITH RECURSIVE; the Spark side runs the SAME
# algebra UNROLLED (em0..em10 as chained CTEs — r12 optimization: the
# recursion is over one row, so Spark's UnionLoop executed a separate
# tiny job per iteration; stage_time_audit measured 56 stages / 0.15 s
# of executor time under a 2.0 s wall — pure driver job-launch latency).
# Both forms are RENDERED FROM THE SAME step/final expression constants
# below (r12 ADVICE: the unrolled text was a hand-maintained copy; now
# a future edit to the algebra reaches both engines by construction),
# so every intermediate double is bit-identical across engines. The
# `pat` body is the only other difference: the oracle computes the four
# agreement-pattern counts from the blocked pair join in SQL, the Spark
# side inlines the SAME integers as literals (one aggregate collected
# driver-side, the watermark discipline) so the engine never re-runs
# the pair join. The recursion OPERATOR itself stays value-locked by
# order_ancestor_chain_cte, whose depth is data-dependent.
#
# Boundary guards in the step are SEMANTIC, not ANSI appeasement: a
# pattern with zero count drives its m/u to the boundary, after which
# the responsibility is 0/0 (DuckDB would emit NaN and poison every
# later iteration; ANSI Spark throws) — a zero-weight pattern's
# responsibility is definitionally 0, and an empty class keeps its
# previous parameters.
_ER_EM_STEP = """
    SELECT iter + 1 AS iter,
           (r00*c00 + r01*c01 + r10*c10 + r11*c11) / n AS pi,
           CASE WHEN (r00*c00 + r01*c01 + r10*c10 + r11*c11) > 0 THEN
               (r10*c10 + r11*c11)
                   / (r00*c00 + r01*c01 + r10*c10 + r11*c11)
           ELSE m1 END AS m1,
           CASE WHEN n - (r00*c00 + r01*c01 + r10*c10 + r11*c11) > 0 THEN
               ((1-r10)*c10 + (1-r11)*c11)
                   / (n - (r00*c00 + r01*c01 + r10*c10 + r11*c11))
           ELSE u1 END AS u1,
           CASE WHEN (r00*c00 + r01*c01 + r10*c10 + r11*c11) > 0 THEN
               (r01*c01 + r11*c11)
                   / (r00*c00 + r01*c01 + r10*c10 + r11*c11)
           ELSE m2 END AS m2,
           CASE WHEN n - (r00*c00 + r01*c01 + r10*c10 + r11*c11) > 0 THEN
               ((1-r01)*c01 + (1-r11)*c11)
                   / (n - (r00*c00 + r01*c01 + r10*c10 + r11*c11))
           ELSE u2 END AS u2
    FROM (
        SELECT iter, m1, u1, m2, u2, c00, c01, c10, c11,
               c00 + c01 + c10 + c11 AS n,
               CASE WHEN pi*(1-m1)*(1-m2) + (1-pi)*(1-u1)*(1-u2) > 0 THEN
                   pi*(1-m1)*(1-m2)
                       / (pi*(1-m1)*(1-m2) + (1-pi)*(1-u1)*(1-u2))
               ELSE CAST(0 AS DOUBLE) END AS r00,
               CASE WHEN pi*(1-m1)*m2 + (1-pi)*(1-u1)*u2 > 0 THEN
                   pi*(1-m1)*m2
                       / (pi*(1-m1)*m2 + (1-pi)*(1-u1)*u2)
               ELSE CAST(0 AS DOUBLE) END AS r01,
               CASE WHEN pi*m1*(1-m2) + (1-pi)*u1*(1-u2) > 0 THEN
                   pi*m1*(1-m2)
                       / (pi*m1*(1-m2) + (1-pi)*u1*(1-u2))
               ELSE CAST(0 AS DOUBLE) END AS r10,
               CASE WHEN pi*m1*m2 + (1-pi)*u1*u2 > 0 THEN
                   pi*m1*m2
                       / (pi*m1*m2 + (1-pi)*u1*u2)
               ELSE CAST(0 AS DOUBLE) END AS r11
        FROM {src} CROSS JOIN pat{guard}
    )
"""

_ER_EM_FINAL = """
SELECT CAST(iter AS BIGINT) AS iter,
       round(pi, 6) AS pi,
       round(m1, 6) AS m_name3, round(u1, 6) AS u_name3,
       round(m2, 6) AS m_bal, round(u2, 6) AS u_bal,
       CAST(c00 + c01 + c10 + c11 AS BIGINT) AS n_pairs,
       round(  CASE WHEN c00 > 0 THEN
                   c00 * ln(pi*(1-m1)*(1-m2) + (1-pi)*(1-u1)*(1-u2))
               ELSE 0 END
             + CASE WHEN c01 > 0 THEN
                   c01 * ln(pi*(1-m1)*m2     + (1-pi)*(1-u1)*u2)
               ELSE 0 END
             + CASE WHEN c10 > 0 THEN
                   c10 * ln(pi*m1*(1-m2)     + (1-pi)*u1*(1-u2))
               ELSE 0 END
             + CASE WHEN c11 > 0 THEN
                   c11 * ln(pi*m1*m2         + (1-pi)*u1*u2)
               ELSE 0 END, 4) AS loglik
FROM {last} CROSS JOIN pat
WHERE iter = {n}
"""

_ER_EM_N_ITER = 10

_ER_EM_LOOP = (
    """
WITH RECURSIVE pat AS ({pat_body}),
em(iter, pi, m1, u1, m2, u2) AS (
    SELECT 0, CAST(0.1 AS DOUBLE), CAST(0.8 AS DOUBLE),
           CAST(0.2 AS DOUBLE), CAST(0.8 AS DOUBLE), CAST(0.2 AS DOUBLE)
    UNION ALL
"""
    + _ER_EM_STEP.format(src="em", guard=f" WHERE iter < {_ER_EM_N_ITER}")
    + """
)
"""
    + _ER_EM_FINAL.format(last="em", n=_ER_EM_N_ITER)
)


def _er_em_unrolled_sql(pat_body: str, n_iter: int = _ER_EM_N_ITER) -> str:
    """The _ER_EM_LOOP algebra as chained CTEs em0..em{n_iter}, rendered
    from the same _ER_EM_STEP/_ER_EM_FINAL constants as the recursive
    oracle form."""
    ctes = [
        f"pat AS ({pat_body})",
        "em0 AS (SELECT 0 AS iter, CAST(0.1 AS DOUBLE) AS pi, "
        "CAST(0.8 AS DOUBLE) AS m1, CAST(0.2 AS DOUBLE) AS u1, "
        "CAST(0.8 AS DOUBLE) AS m2, CAST(0.2 AS DOUBLE) AS u2)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"em{i} AS ({_ER_EM_STEP.format(src=f'em{i - 1}', guard='')})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + _ER_EM_FINAL.format(last=f"em{n_iter}", n=n_iter)
    )

_ER_EM_PAT_SQL = """
    SELECT CAST(sum(CASE WHEN NOT (a.name3 = b.name3)
                          AND NOT (abs(a.bal_cents - b.bal_cents) < 10000)
                         THEN 1 ELSE 0 END) AS DOUBLE) AS c00,
           CAST(sum(CASE WHEN NOT (a.name3 = b.name3)
                          AND (abs(a.bal_cents - b.bal_cents) < 10000)
                         THEN 1 ELSE 0 END) AS DOUBLE) AS c01,
           CAST(sum(CASE WHEN (a.name3 = b.name3)
                          AND NOT (abs(a.bal_cents - b.bal_cents) < 10000)
                         THEN 1 ELSE 0 END) AS DOUBLE) AS c10,
           CAST(sum(CASE WHEN (a.name3 = b.name3)
                          AND (abs(a.bal_cents - b.bal_cents) < 10000)
                         THEN 1 ELSE 0 END) AS DOUBLE) AS c11
    FROM (SELECT c_custkey, c_nationkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
                 right(c_name, 3) AS name3,
                 CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                            / 100000.0) AS BIGINT) AS balk
          FROM customer) a
    JOIN (SELECT c_custkey, c_nationkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
                 right(c_name, 3) AS name3,
                 CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                            / 100000.0) AS BIGINT) AS balk
          FROM customer) b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.balk = b.balk
     AND a.c_custkey < b.c_custkey
"""


@query(
    "customer_er_em_params",
    oracle=_ER_EM_LOOP.format(pat_body=_ER_EM_PAT_SQL),
    description="EM parameter ESTIMATION for Fellegi-Sunter record "
    "linkage (Winkler's unsupervised m/u fitting). Because the two "
    "comparison fields are binary, the E-step collapses from "
    "per-pair responsibilities to per-PATTERN responsibilities over a "
    "4-cell contingency table (c00..c11), so each EM iteration is pure "
    "scalar algebra on one row. The ORACLE runs the fixpoint as a "
    "RECURSIVE CTE; the Spark side runs the algebra UNROLLED as "
    "chained CTEs em0..em10 (r12: the UnionLoop executed one tiny job "
    "per iteration over the 1-row state — pure driver latency) — both "
    "forms render from the same step/final SQL constants, so every "
    "intermediate double is bit-identical and the unrolled chain is "
    "value-locked against the recursive form. The pattern "
    "counts come from the same composite-blocked pair join as "
    "customer_er_match_scores — computed ONCE (the Spark side collects "
    "the four integers as driver scalars and inlines them, so the "
    "iteration never re-executes the pair join; the oracle computes "
    "them in its pat CTE — same integers, same doubles). Outputs the "
    "converged class prior, per-field m/u probabilities, and the "
    "mixture log-likelihood. On this synthetic-no-duplicates testbed "
    "EM drives m_name3 to the boundary (no latent match class uses "
    "the name field) and discovers the close-balance class as the "
    "~2.5% mixture component — the honest fit. Scale: one blocked "
    "pair-count aggregate at corpus cost, then O(iterations) 1-row "
    "algebra.",
)
def customer_er_em_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    name_eq, bal_close = _er_predicates()
    counts = (
        _er_blocked_pairs(spark, sf_dir)
        .agg(
            F.sum(F.when(~name_eq & ~bal_close, 1).otherwise(0)).alias("c00"),
            F.sum(F.when(~name_eq & bal_close, 1).otherwise(0)).alias("c01"),
            F.sum(F.when(name_eq & ~bal_close, 1).otherwise(0)).alias("c10"),
            F.sum(F.when(name_eq & bal_close, 1).otherwise(0)).alias("c11"),
        )
        .collect()[0]
    )
    pat_body = (
        f"SELECT CAST({int(counts['c00'])} AS DOUBLE) AS c00, "
        f"CAST({int(counts['c01'])} AS DOUBLE) AS c01, "
        f"CAST({int(counts['c10'])} AS DOUBLE) AS c10, "
        f"CAST({int(counts['c11'])} AS DOUBLE) AS c11"
    )
    # Unrolled loop (see _er_em_unrolled_sql): identical algebra, one
    # job instead of 10 UnionLoop iterations over a 1-row state.
    return spark.sql(_er_em_unrolled_sql(pat_body))


@query(
    "customer_er_entity_clusters",
    oracle="""
    WITH RECURSIVE feat AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
               right(c_name, 3) AS name3,
               CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                          / 100000.0) AS BIGINT) AS balk
        FROM customer
    ),
    pairs AS (
        SELECT a.c_custkey AS pa, b.c_custkey AS pb
        FROM feat a JOIN feat b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.balk = b.balk
         AND a.c_custkey < b.c_custkey
        WHERE (CASE WHEN a.name3 = b.name3 THEN 6.5 ELSE -4.3 END
               + CASE WHEN abs(a.bal_cents - b.bal_cents) < 10000
                      THEN 2.0 ELSE -1.5 END) > 4.5
    ),
    edges AS (
        SELECT pa AS a, pb AS b FROM pairs
        UNION
        SELECT pb AS a, pa AS b FROM pairs
    ),
    reach(node, r) AS (
        SELECT DISTINCT a AS node, a AS r FROM edges
        UNION
        SELECT e.b AS node, reach.r FROM reach JOIN edges e
          ON e.a = reach.node
    ),
    comp AS (SELECT node, min(r) AS entity FROM reach GROUP BY node)
    SELECT comp.entity, CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(f.bal_cents) - min(f.bal_cents) AS BIGINT)
               AS bal_spread_cents
    FROM comp JOIN feat f ON f.c_custkey = comp.node
    GROUP BY comp.entity
    """,
    description="Entity RESOLUTION, final stage: transitive closure of "
    "the above-threshold match pairs into entity clusters — block -> "
    "score (customer_er_match_scores) -> fit (customer_er_em_params) "
    "-> CLUSTER, the full record-linkage pipeline. Match = Fellegi-"
    "Sunter score > 4.5 (name-suffix agreement required), edges "
    "symmetrized, components via ops.graph.connected_components "
    "(large-star/small-star, O(log^2 n) rounds — transitive "
    "closure is exactly where naive pairwise linkage breaks: two pairs "
    "(a,b),(b,c) must land in ONE entity even when (a,c) was never "
    "compared, and at 100 TB the closure must contract geometrically, "
    "never chain-walk). Per-entity output: canonical id (min member), "
    "member count, and balance spread in exact cents (the merge-review "
    "signal). Oracle: the same closure as a recursive reachability CTE "
    "+ min-label, the pattern proven on the dup-cluster family.",
)
def customer_er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops.graph import connected_components

    name_eq, bal_close = _er_predicates()
    score = F.when(name_eq, F.lit(6.5)).otherwise(F.lit(-4.3)) + F.when(
        bal_close, F.lit(2.0)
    ).otherwise(F.lit(-1.5))
    pairs = (
        _er_blocked_pairs(spark, sf_dir)
        .where(score > 4.5)
        .select(
            F.col("a.c_custkey").alias("src"),
            F.col("b.c_custkey").alias("dst"),
        )
    )
    comp = connected_components(pairs, "src", "dst")
    bal = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    return (
        # comp is post-checkpoint (CC truncates lineage), so Catalyst
        # has no size stats and would fall back to SMJ — pin the
        # repo's post-checkpoint convention: shuffle-hash, no sort
        comp.join(
            bal.hint("shuffle_hash"),
            comp["node"] == F.col("c_custkey"),
        )
        .groupBy(F.col("component").alias("entity"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            (F.max("bal_cents") - F.min("bal_cents"))
            .cast("bigint")
            .alias("bal_spread_cents"),
        )
    )


# Markov-chain attribution: the absorbing-chain value iteration as a
# recursive CTE over a 5-row (scenario, state-vector) relation — same
# engine-owned-fixpoint discipline as the EM fit. The repetitive SQL
# (25-entry matrix pivot, per-state dot products) is GENERATED once and
# shared verbatim between engines; only the `tc` (transition counts)
# body differs — oracle computes it from events, Spark inlines the same
# integers (driver scalars, never re-joined inside the loop).
_MC_CHANNELS = ["view", "click", "signup", "error"]
_MC_SRCS = ["start"] + _MC_CHANNELS


def _perm_sign(perm: tuple[int, ...]) -> int:
    inv = sum(
        1
        for i in range(len(perm))
        for j in range(i + 1, len(perm))
        if perm[i] > perm[j]
    )
    return -1 if inv % 2 else 1


def _det5_sql(entry) -> str:
    """Full 120-term permutation expansion of a 5x5 determinant whose
    (i, j) entry is the SQL string ``entry(i, j)`` — generated ONCE and
    shared verbatim by both engines, so the alternating sum's term
    order, ASSOCIATION (the chunked tree below), and hence the IEEE
    result are identical. Terms are summed in parenthesized chunks of
    15 because a flat 120-term chain parses as a ~240-deep left-nested
    binary tree and overflows DuckDB's expression binder (max 128);
    the balanced tree is ~20 deep."""
    import itertools

    terms = []
    for perm in itertools.permutations(range(5)):
        prod = " * ".join(entry(i, perm[i]) for i in range(5))
        terms.append(("+ " if _perm_sign(perm) > 0 else "- ") + f"({prod})")
    chunks = [
        "(" + "\n        ".join(terms[i : i + 15]) + ")"
        for i in range(0, len(terms), 15)
    ]
    return "(" + "\n      + ".join(chunks) + ")"


def _mc_loop_sql() -> str:
    pivot = []
    for s in _MC_SRCS:
        for d in _MC_CHANNELS + ["conv"]:
            pivot.append(
                f"CAST(sum(CASE WHEN src = '{s}' AND dst = '{d}' "
                f"THEN cnt ELSE 0 END) AS DOUBLE)\n"
                f"             / greatest(sum(CASE WHEN src = '{s}' "
                f"THEN cnt ELSE 0 END), 1) AS p_{s}_{d}"
            )
    mat = []
    for s in _MC_SRCS:
        for d in _MC_CHANNELS + ["conv"]:
            mat.append(
                f"CASE WHEN removed = '{d}' OR removed = '{s}' "
                f"THEN CAST(0 AS DOUBLE) ELSE p_{s}_{d} END AS m_{s}_{d}"
            )

    # a = (I - Q)^(-1) R solved by Cramer's rule: a_start = detN / detD,
    # with A = I - Q over transient states (Q[i][j] = m_i_j; 'start' is
    # never a destination) and detN = det(A with the 'start' column
    # replaced by R[i] = m_i_conv).
    def a_entry(i: int, j: int) -> str:
        si, sj = _MC_SRCS[i], _MC_SRCS[j]
        if j == 0:
            # 'start' is never a destination (q_i_start = 0), so the
            # first column of A = I - Q is the identity basis vector
            return (
                "CAST(1 AS DOUBLE)" if i == 0 else "CAST(0 AS DOUBLE)"
            )
        if i == j:
            return f"(CAST(1 AS DOUBLE) - m_{si}_{sj})"
        return f"(CAST(0 AS DOUBLE) - m_{si}_{sj})"

    def n_entry(i: int, j: int) -> str:
        if j == 0:  # the 'start' column carries R
            return f"m_{_MC_SRCS[i]}_conv"
        return a_entry(i, j)

    scen_vals = ", ".join(f"('{c}')" for c in ["none"] + _MC_CHANNELS)
    return f"""
WITH tc AS ({{tc_body}}),
probs AS (
    SELECT {", ".join(pivot)}
    FROM tc
),
scen AS (SELECT * FROM (VALUES {scen_vals}) t(removed)),
mat AS (
    SELECT removed, {", ".join(mat)}
    FROM scen CROSS JOIN probs
),
res AS (
    SELECT removed,
        {_det5_sql(n_entry)}
        / {_det5_sql(a_entry)} AS a_start
    FROM mat
),
base AS (SELECT a_start AS v0 FROM res WHERE removed = 'none'),
re AS (
    SELECT removed AS channel, (v0 - a_start) / v0 AS re, v0
    FROM res CROSS JOIN base WHERE removed <> 'none'
),
tot AS (
    SELECT CAST(sum(CAST(re AS DECIMAL(38,10))) AS DOUBLE) AS re_sum
    FROM re
)
SELECT channel,
       round(re, 6) AS removal_effect,
       round(re / re_sum, 6) AS attribution_share,
       round(v0, 6) AS p_convert
FROM re CROSS JOIN tot
"""


# Each chain row emits its INBOUND transition (lag -> self, 'start' for
# the first event of the (user, day) journey); terminal rows (no lead)
# additionally emit the absorbing transition (self -> conv/null).
_MC_SEQ_SQL = """
            SELECT event_type, conv,
                   lag(event_type) OVER w AS prv,
                   lead(event_type) OVER w AS nxt
            FROM (
                SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
                       event_type,
                       max(CASE WHEN event_type = 'purchase' THEN 1
                                ELSE 0 END)
                           OVER (PARTITION BY user_id, CAST(ts AS DATE))
                           AS conv
                FROM events
            )
            WHERE event_type <> 'purchase'
            WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id)
"""

_MC_TC_SQL = f"""
    SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT coalesce(prv, 'start') AS src, event_type AS dst
        FROM ({_MC_SEQ_SQL})
        UNION ALL
        SELECT event_type AS src,
               CASE WHEN conv = 1 THEN 'conv' ELSE 'null' END AS dst
        FROM ({_MC_SEQ_SQL})
        WHERE nxt IS NULL
    )
    GROUP BY src, dst
"""


@query(
    "channel_markov_attribution",
    oracle=_mc_loop_sql().format(tc_body=_MC_TC_SQL),
    description="MARKOV-CHAIN multi-touch attribution with removal "
    "effects (Anderl et al. 2016 — the other standard MTA model, "
    "complementing channel_shapley_attribution's cooperative-game "
    "split): per-(user, day) journeys become a first-order chain "
    "(START -> touched channels -> CONV/NULL absorbing), and each "
    "channel's credit is its REMOVAL EFFECT — the relative drop in "
    "P(convert from START) when every transition into that channel is "
    "redirected to NULL. The absorbing-chain probability a = "
    "(I-Q)^(-1) R is solved in CLOSED FORM by Cramer's rule on the "
    "5x5 fundamental matrix: both determinants are full 120-term "
    "permutation expansions GENERATED symbolically and shared "
    "verbatim between engines (term order AND association pinned — "
    "the sum is chunked into a balanced tree because a flat 240-deep "
    "chain overflows DuckDB's expression binder), evaluated once per "
    "scenario row (base + 4 removals), replacing a 30-step value "
    "iteration that cost ~1 s of UnionLoop scheduling per step and "
    "still truncated the tail. Transition COUNTS are exact integers "
    "from one windowed pass over the corpus; the Spark side inlines "
    "them as VALUES (driver scalars, the EM discipline), and the "
    "4-term removal-effect normalization goes through the decimal "
    "stable-sum. Scale: one (user, day) window pass + one transition "
    "hash agg at corpus cost; the attribution algebra is five rows.",
)
def channel_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w_conv = Window.partitionBy("user_id", day)
    base = ev.select(
        "user_id",
        day.alias("day"),
        "ts",
        "event_id",
        "event_type",
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w_conv)
        .alias("conv"),
    ).where(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = base.select(
        "event_type",
        "conv",
        F.lag("event_type").over(w).alias("prv"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    t1 = seq.select(
        F.coalesce("prv", F.lit("start")).alias("src"),
        F.col("event_type").alias("dst"),
    )
    t2 = seq.where(F.col("nxt").isNull()).select(
        F.col("event_type").alias("src"),
        F.when(F.col("conv") == 1, F.lit("conv"))
        .otherwise(F.lit("null"))
        .alias("dst"),
    )
    counts = (
        t1.unionAll(t2)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    )
    rows = ", ".join(
        f"('{r['src']}', '{r['dst']}', {int(r['cnt'])})" for r in counts
    )
    tc_body = (
        f"SELECT src, dst, CAST(cnt AS BIGINT) AS cnt "
        f"FROM (VALUES {rows}) t(src, dst, cnt)"
    )
    return spark.sql(_mc_loop_sql().format(tc_body=tc_body))


@query(
    "daily_value_acf",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM events GROUP BY day
    ),
    idx AS (
        SELECT x, row_number() OVER (ORDER BY day) AS t FROM daily
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(CAST(x AS DECIMAL(38,0))
                        * CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
        FROM idx
    ),
    lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
    cross_mom AS (
        SELECT l.lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CAST(a.x AS DECIMAL(38,0))
                        * CAST(b.x AS DECIMAL(38,0))) AS DOUBLE) AS sab,
               CAST(sum(a.x) AS DOUBLE) AS sa,
               CAST(sum(b.x) AS DOUBLE) AS sb
        FROM lags l
        JOIN idx a ON TRUE
        JOIN idx b ON b.t = a.t + l.lag
        GROUP BY l.lag
    )
    SELECT lag, n_pairs,
           round((sab - (sx / n) * sa - (sx / n) * sb
                  + n_pairs * (sx / n) * (sx / n))
                 / (sxx - n * (sx / n) * (sx / n)), 6) AS acf
    FROM cross_mom CROSS JOIN mom
    """,
    description="Exact AUTOCORRELATION function of the daily event-value "
    "series, lags 1..7 (the time-series diagnostic behind seasonality "
    "detection and residual whiteness checks — completes the family: "
    "seasonal residuals, Theil-Sen trend, CUSUM/EWMA, forecast "
    "backtest): the day series is exact cent integers, every moment "
    "(sum, sum-of-squares, per-lag cross products in decimal(38,0) — "
    "a year of sf1 daily totals squared overflows int64) is exact, "
    "and the mean-centered numerator expands to moment algebra "
    "(sab - m*sa - m*sb + k*m^2) so the only doubles are one fixed "
    "expression evaluated identically in both engines. Scale: ONE "
    "corpus hash agg collapses events to #days rows; the lag join and "
    "everything after run on the day-count frame (365 rows/year — "
    "driver-scale by construction, like the BH family table).",
)
def daily_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    # #days rows: the unpartitioned row_number window is day-scale
    idx = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    mom = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    a = idx.alias("a")
    b = idx.alias("b")
    cross = (
        lags.join(F.broadcast(a), F.lit(True))
        .join(
            F.broadcast(b),
            F.col("b.t") == F.col("a.t") + F.col("lag"),
        )
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.col("a.x").cast("decimal(38,0)")
                * F.col("b.x").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("sab"),
            F.sum("a.x").cast("double").alias("sa"),
            F.sum("b.x").cast("double").alias("sb"),
        )
    )
    m = F.col("sx") / F.col("n")
    return cross.crossJoin(F.broadcast(mom)).select(
        "lag",
        "n_pairs",
        F.round(
            (
                F.col("sab")
                - m * F.col("sa")
                - m * F.col("sb")
                + F.col("n_pairs") * m * m
            )
            / (F.col("sxx") - F.col("n") * m * m),
            6,
        ).alias("acf"),
    )


@query(
    "order_total_ht_estimate",
    oracle="""
    WITH base AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS y,
               ('0x'||substr(md5('ht|'||CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT
                   % 10 = 0 AS in_sample
        FROM orders
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sample,
               CAST(sum(y) AS BIGINT) AS true_total_cents,
               CAST(10 * sum(CASE WHEN in_sample THEN y ELSE 0 END)
                    AS BIGINT) AS ht_total_cents,
               CAST(sum(CASE WHEN in_sample
                             THEN 90 * CAST(y AS DECIMAL(38,0))
                                  * CAST(y AS DECIMAL(38,0))
                             ELSE CAST(0 AS DECIMAL(38,0)) END)
                    AS DOUBLE) AS var_est
        FROM base
    )
    SELECT n_pop, n_sample, true_total_cents, ht_total_cents,
           round((CAST(ht_total_cents AS DOUBLE) - true_total_cents)
                 / true_total_cents, 6) AS rel_error,
           round(sqrt(var_est) / 100, 2) AS se_dollars,
           abs(CAST(ht_total_cents AS DOUBLE) - true_total_cents)
               <= 2 * sqrt(var_est) AS within_2se
    FROM agg
    """,
    description="HORVITZ-THOMPSON total estimation under deterministic "
    "hash-systematic sampling (the survey-sampling primitive behind "
    "'estimate the corpus total from a 10% scan'): inclusion is "
    "md5-hash-bucket membership (pi = 1/10 by construction, portable "
    "across engines — the doc_train_split mechanism), the HT estimator "
    "sum(y_i/pi) collapses to 10x the sample sum (EXACT integer "
    "arithmetic — no float until the error analysis), and the "
    "Poisson-sampling variance estimator sum(y_i^2 (1-pi)/pi^2) = "
    "90 * sum(y_i^2) accumulates in decimal(38,0). Reports the "
    "realized relative error and whether the truth landed within 2 "
    "standard errors — the estimator auditing ITSELF against the full "
    "scan it is meant to replace. Scale: ONE conditional aggregate "
    "pass; at 100 TB the sample-only variant (filter first, never "
    "scan y for unsampled rows after partition pruning) is the "
    "production form, and pi becomes the cost dial.",
)
def order_total_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops import text as T

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
        (
            F.expr(T.spark_hash64("'ht|'||CAST(o_orderkey AS STRING)")) % 10
            == 0
        ).alias("in_sample"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sample"),
        F.sum("y").cast("bigint").alias("true_total_cents"),
        (F.lit(10) * F.sum(F.when(F.col("in_sample"), F.col("y")).otherwise(0)))
        .cast("bigint")
        .alias("ht_total_cents"),
        F.sum(
            F.when(
                F.col("in_sample"),
                F.lit(90)
                * F.col("y").cast("decimal(38,0)")
                * F.col("y").cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("double")
        .alias("var_est"),
    )
    return agg.select(
        "n_pop",
        "n_sample",
        "true_total_cents",
        "ht_total_cents",
        F.round(
            (
                F.col("ht_total_cents").cast("double")
                - F.col("true_total_cents")
            )
            / F.col("true_total_cents"),
            6,
        ).alias("rel_error"),
        F.round(F.sqrt(F.col("var_est")) / 100, 2).alias("se_dollars"),
        (
            F.abs(
                F.col("ht_total_cents").cast("double")
                - F.col("true_total_cents")
            )
            <= 2 * F.sqrt(F.col("var_est"))
        ).alias("within_2se"),
    )


@query(
    "order_neyman_allocation",
    oracle="""
    WITH strata AS (
        SELECT o_orderpriority AS stratum,
               CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) AS s1,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                        * CAST(round(o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) AS s2
        FROM orders GROUP BY stratum
    ),
    sd AS (
        SELECT stratum, n_h,
               sqrt(s2 / n_h - (s1 / n_h) * (s1 / n_h)) AS sd_h
        FROM strata
    ),
    tot AS (
        SELECT CAST(sum(n_h) AS BIGINT) AS n_pop,
               CAST(sum(CAST(n_h * sd_h AS DECIMAL(38,10))) AS DOUBLE)
                   AS sum_ns
        FROM sd
    )
    SELECT stratum, n_h,
           round(sd_h / 100, 4) AS sd_dollars,
           round(1000 * (n_h * sd_h) / sum_ns, 2) AS neyman_n,
           round(1000 * CAST(n_h AS DOUBLE) / n_pop, 2) AS proportional_n
    FROM sd CROSS JOIN tot
    """,
    description="NEYMAN optimal allocation for stratified sampling "
    "(n_h proportional to N_h * S_h — put the budget where the "
    "variance is): per order-priority stratum, the population size and "
    "standard deviation come from exact cent-integer moments in ONE "
    "hash aggregate, and a fixed 1000-row sampling budget splits "
    "Neyman-optimally vs proportionally for comparison. The "
    "cross-stratum normalizer sum(N_h * S_h) goes through the decimal "
    "stable-sum (5 doubles, order-proof). Completes the sampling "
    "family: design (this), estimation (order_total_ht_estimate), "
    "deterministic assignment (doc_train_split / weighted samples). "
    "Scale: one aggregate pass to #strata rows; everything after is "
    "stratum-count algebra.",
)
def order_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    strata = orders.groupBy(
        F.col("o_orderpriority").alias("stratum")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(cents).cast("double").alias("s1"),
        # cents^2 sums pass 2^63 at sf0.1 — accumulate decimal(38,0)
        # (DuckDB's sum(BIGINT) widens to HUGEINT by itself; same exact
        # value, same double after the cast)
        F.sum((cents * cents).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    sd = strata.select(
        "stratum",
        "n_h",
        F.sqrt(
            F.col("s2") / F.col("n_h")
            - (F.col("s1") / F.col("n_h")) * (F.col("s1") / F.col("n_h"))
        ).alias("sd_h"),
    )
    tot = sd.agg(
        F.sum("n_h").cast("bigint").alias("n_pop"),
        F.sum((F.col("n_h") * F.col("sd_h")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sum_ns"),
    )
    return sd.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        F.round(F.col("sd_h") / 100, 4).alias("sd_dollars"),
        F.round(
            1000 * (F.col("n_h") * F.col("sd_h")) / F.col("sum_ns"), 2
        ).alias("neyman_n"),
        F.round(
            1000 * F.col("n_h").cast("double") / F.col("n_pop"), 2
        ).alias("proportional_n"),
    )


@query(
    "order_capture_recapture",
    oracle="""
    WITH base AS (
        SELECT ('0x'||substr(md5('cr1|'||CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT
                   % 10 = 0 AS s1,
               ('0x'||substr(md5('cr2|'||CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT
                   % 10 = 0 AS s2
        FROM orders
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS m
        FROM base
    )
    SELECT n_true, n1, n2, m,
           round((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1, 2)
               AS n_chapman,
           round(sqrt((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m)
                       * (n2 - m))
                      / ((CAST(m + 1 AS DOUBLE)) * (m + 1) * (m + 2))),
                 2) AS se_chapman,
           abs((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1 - n_true)
               <= 2 * sqrt((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m)
                            * (n2 - m))
                           / ((CAST(m + 1 AS DOUBLE)) * (m + 1) * (m + 2)))
               AS within_2se
    FROM agg
    """,
    description="CAPTURE-RECAPTURE population estimation (Chapman's "
    "bias-corrected Lincoln-Petersen — 'how many rows exist that "
    "neither sample saw', the estimator behind dedup-rate and "
    "missing-mass auditing when a full scan is off the table): two "
    "INDEPENDENT deterministic hash samples (different md5 salts, "
    "pi = 1/10 each), overlap m, N-hat = (n1+1)(n2+1)/(m+1) - 1 with "
    "Chapman's variance, and the self-audit columns against the true "
    "count. All counts exact integers from ONE conditional aggregate; "
    "the estimate/SE are one fixed double expression. Completes the "
    "estimation-from-samples family with HT (known-pi totals) and "
    "Neyman (budget design). Scale: at 100 TB the two samples are the "
    "only thing scanned (hash-bucket partition pruning) and the "
    "overlap join is sample-sized.",
)
def order_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smartpool_bigdata_spark.ops import text as T

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        (
            F.expr(T.spark_hash64("'cr1|'||CAST(o_orderkey AS STRING)")) % 10
            == 0
        ).alias("s1"),
        (
            F.expr(T.spark_hash64("'cr2|'||CAST(o_orderkey AS STRING)")) % 10
            == 0
        ).alias("s2"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("s1"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("s2"), 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("s1") & F.col("s2"), 1).otherwise(0))
        .cast("bigint")
        .alias("m"),
    )
    nhat = ((F.col("n1") + 1).cast("double") * (F.col("n2") + 1)) / (
        F.col("m") + 1
    ) - 1
    se = F.sqrt(
        (
            (F.col("n1") + 1).cast("double")
            * (F.col("n2") + 1)
            * (F.col("n1") - F.col("m"))
            * (F.col("n2") - F.col("m"))
        )
        / (
            (F.col("m") + 1).cast("double")
            * (F.col("m") + 1)
            * (F.col("m") + 2)
        )
    )
    return agg.select(
        "n_true",
        "n1",
        "n2",
        "m",
        F.round(nhat, 2).alias("n_chapman"),
        F.round(se, 2).alias("se_chapman"),
        (F.abs(nhat - F.col("n_true")) <= 2 * se).alias("within_2se"),
    )


# Register the document-pipeline and similarity-search query families into
# the same REGISTRY (import side effect; kept at the bottom so the decorator
# and helpers above are defined).
from smartpool_bigdata_spark import queries_text as _queries_text  # noqa: E402,F401
from smartpool_bigdata_spark import queries_vectors as _queries_vectors  # noqa: E402,F401
from smartpool_bigdata_spark import queries_streaming as _queries_streaming  # noqa: E402,F401
from smartpool_bigdata_spark import queries_ingest as _queries_ingest  # noqa: E402,F401
