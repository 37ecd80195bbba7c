"""Seeded input generators. The same seed always gives the same inputs.

* ``write_star_schema`` — the TPC-H-style star schema plus ``events``,
  ``documents`` and ``embeddings``, in the column layout the query
  registry reads (one single-row-group parquet file per table).
* ``pools_dim`` / ``maintenance_increment`` — the FIXTURES.md §1-§2
  shapes for the medallion workload.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A vocabulary large enough that unrelated documents share few 3-word
# shingles: LSH candidates then come from the planted near-duplicates, so
# the near-dup queries cost about the same whatever the seed.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split() + [f"w{i}" for i in range(2000)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_ADJ = ["small", "large", "blue", "red", "green", "steel", "shiny", "old"]
PART_NOUN = ["ring", "anvil", "widget", "bolt", "gear", "valve", "spring", "plate"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
LANGS = ["en", "de", "fr", "es", "zh"]

US = np.int64(1_000_000)


def _ts(epoch_us: np.ndarray) -> pa.Array:
    return pa.array(epoch_us.astype("int64"), type=pa.timestamp("us"))


def _epoch_us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * int(US)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every registry table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(50_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0})
    day = 86_400 * int(US)
    d0 = _epoch_us(datetime(1995, 1, 1))
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(d0 + rng.integers(0, 2400, n_ord) * day),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(901.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(d0 + day + rng.integers(0, 2500, n_line) * day)})
    e0 = _epoch_us(datetime(2024, 1, 1))
    ev_ts = np.sort(e0 + rng.integers(0, 30 * day, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(1, n_ev // 67), n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev, p=[0.35, 0.35, 0.1, 0.1, 0.1]),
        "value": np.round(rng.gamma(2.0, 40.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and i % 10 == 5:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    labels = np.arange(n_emb) % 10  # equal clusters, 5 % planted duplicates
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_emb, 64))
    dup = np.arange(n_emb) % 20 == 7
    src = rng.integers(0, n_emb, n_emb)
    vecs[dup] = vecs[src[dup]] + 0.01 * rng.normal(size=(int(dup.sum()), 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": labels.astype("int32")})
    return {"lineitem": n_line, "orders": n_ord, "events": n_ev, "documents": n_doc}


# -- medallion (FIXTURES.md §1-§2) ---------------------------------------------

INTERVENTIONS = ["chlorine", "ph_correction", "filter_backwash", "refill"]
PRODUCTS = {"chlorine": ["dichloro", "tricloro"], "ph_correction": ["minus", "plus"]}
OWNERS = ["private", "airbnb", "hotel", "sports_center"]
CITIES = ["Ciudad Real", "Toledo", "Madrid", "Cuenca", "Albacete", None]


def pools_dim(seed: int, n_pools: int) -> pa.Table:
    """Two versions per pool id, one pair tying on ``updated_at``."""
    rng = np.random.default_rng(seed)
    base = _epoch_us(datetime(2024, 1, 1))
    rows = []
    for pid in range(1, n_pools + 1):
        for v in range(2):
            ts = base + v * 3_600 * int(US) + int(rng.integers(0, 10**6))
            rows.append((pid, f"pool-{pid}-v{v}", CITIES[int(rng.integers(0, 6))],
                         int(rng.integers(30_000, 700_001)), bool(rng.random() < 0.4),
                         OWNERS[int(rng.integers(0, 4))], ts))
    rows[-1] = rows[-1][:6] + (rows[-2][6] + 3_600 * int(US),)
    rows[-3] = rows[-3][:6] + (rows[-1][6],)  # tie on updated_at across pools
    cols = list(zip(*rows))
    return pa.table({
        "pool_id": pa.array(cols[0], pa.int32()), "pool_name": cols[1],
        "location": cols[2], "volume_liters": pa.array(cols[3], pa.int32()),
        "is_heated": cols[4], "owner_type": cols[5], "updated_at": _ts(np.array(cols[6]))})


def _updated_at(seed: int, k: int, rows: int) -> np.ndarray:
    """``updated_at`` of increment ``k``: inside hour ``k`` after the base,
    the first ~2 % tied to one value."""
    rng = np.random.default_rng([seed, k, 1])
    base = _epoch_us(datetime(2024, 3, 1)) + k * 3_600 * int(US)
    upd = base + 1 + rng.integers(0, 3_600 * int(US) - 2, rows)
    upd[1:rows // 50] = upd[0]
    return upd


def maintenance_increment(seed: int, k: int, rows: int, n_pools: int,
                          update_share: float = 0.2) -> pa.Table:
    """Increment ``k`` of ``maintenance_events``: new ids, a share of
    updates to earlier ids, a few orphan pools and out-of-catalog types,
    and ``updated_at`` ties — inside the increment and with the previous
    increment's maximum (on new, higher ids, so the keyset takes them)."""
    rng = np.random.default_rng([seed, k])
    n_upd = int(rows * update_share) if k > 0 else 0
    n_new = rows - n_upd
    ids = np.concatenate([
        np.arange(k * rows, k * rows + n_new),
        rng.choice(k * rows, n_upd, replace=False) if n_upd else np.zeros(0, int)])
    upd = _updated_at(seed, k, rows)
    if k > 0:
        upd[rows // 50:rows // 50 + 5] = _updated_at(seed, k - 1, rows).max()
    pool = rng.integers(1, n_pools + 1, rows)
    pool[rng.random(rows) < 0.01] = n_pools + 100  # orphans
    itype = rng.choice(INTERVENTIONS, rows)
    itype[rng.random(rows) < 0.01] = "pool_cover"  # outside the catalog
    product = [rng.choice(PRODUCTS[t]) if t in PRODUCTS and rng.random() > 0.1 else None
               for t in itype]
    amount = np.round(rng.uniform(0.1, 5.0, rows), 3)
    amount_arr = pa.array([None if t == "filter_backwash" else float(a)
                           for t, a in zip(itype, amount)], pa.float64())
    ev_time = _epoch_us(datetime(2024, 2, 20)) + rng.integers(0, 10 * 86_400, rows) * int(US)
    return pa.table({
        "id": pa.array(ids, pa.int64()), "pool_id": pa.array(pool, pa.int32()),
        "event_time": _ts(ev_time), "intervention_type": itype,
        "product_type": product, "product_amount": amount_arr,
        "notes": [None if rng.random() < 0.7 else "checked" for _ in range(rows)],
        "updated_at": _ts(upd)})
