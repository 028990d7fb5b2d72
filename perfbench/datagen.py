"""Deterministic sf0.1-shaped corpus for the benchmark.

Writes the ten tables the query registry reads (``catalog.TABLES``) as
one parquet file each, with the column names, Arrow types and value
domains of the sf0.1 test corpus: independent uniform keys and
categoricals, an exponential ``events.value``, microsecond event
timestamps over 30 days, a 31-word document vocabulary with 250
"<doc> dup" near-duplicates and 8 exact duplicates, and unit-norm
64-dimensional float embeddings.

The corpus depends only on ``DATA_SEED``: the benchmark's ``--seed``
varies query order, ETL records and failing pages, never the tables, so
the sf1 decade built from this corpus can be reused across runs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
             "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64


def _day_stamps(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    base = np.datetime64(lo, "us")
    return pa.array(base + days.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in lengths]
    # 250 near-duplicates (<other doc> + " dup") and 8 exact copies
    ids = rng.permutation(n)
    for src, dst in zip(ids[:250], ids[250:500]):
        texts[dst] = texts[src] + " dup"
    for src, dst in zip(ids[500:508], ids[508:516]):
        texts[dst] = texts[src]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    r = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(r["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}"
                                for i in range(r["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, r["customer"]),
                                    pa.int32()),
            "c_acctbal": _money(rng, r["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, r["customer"])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(r["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}"
                                for i in range(r["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"]),
                                    pa.int32()),
            "s_acctbal": _money(rng, r["supplier"], -999.99, 9999.99)}),
    }
    n = r["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)})
    n = r["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _day_stamps(rng, n, dt.date(1995, 1, 1),
                                   dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})
    n = r["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _day_stamps(rng, n, dt.date(1995, 1, 2),
                                  dt.date(2001, 11, 4))})
    out["events"] = _events(rng, r["events"])
    out["documents"] = _documents(rng, r["documents"])
    out["embeddings"] = _embeddings(rng, r["embeddings"])
    return out


def write(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables().items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
