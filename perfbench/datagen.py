"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's registry reads (``region`` …
``embeddings``), one parquet file each with a single row group, with
the column names, types and value domains of the engine's reference
test data: TPC-H-like keys and money columns, a time-ordered
``events`` stream with JSON ``props``, a 30-word ``documents`` corpus
in which 5% of the documents are near-duplicates (a copy with
`` dup`` appended) and 1% exact copies, and unit-norm 64-d
``embeddings``.  The same ``seed`` and ``scale`` always give the same
bytes of data; the program under test only ever sees these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("merge window customer spark part group stream filter sort the "
         "scan vector join query big hash data column agg table line "
         "small slow key fast order row value a batch").split()
PART_ADJ = "red new hot small cold large old blue".split()
PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "D").astype(np.int64)


def _days(rng, lo_day: int, n_days: int, n: int) -> pa.Array:
    """Midnight timestamps ``lo_day`` … ``lo_day + n_days`` days after
    1995-01-01."""
    d = _EPOCH_1995 + lo_day + rng.integers(0, n_days, n)
    return pa.array(d.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near-duplicates: a later document repeats an earlier one plus a
    # marker token; exact copies feed the fingerprint dedup
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    for i in rng.choice(np.arange(n // 2, n), n // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir`` and return row counts.

    ``scale`` follows TPC-H: 1.0 is 6M lineitem / 1.5M orders rows.
    """
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(1000, int(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(50, int(15_000 * scale))
    n_doc = max(200, int(50_000 * scale))
    n_emb = max(200, min(2000, n_doc))
    order_days = int(np.datetime64("2001-08-02", "D").astype(np.int64)
                     - _EPOCH_1995)
    ship_days = int(np.datetime64("2001-11-05", "D").astype(np.int64)
                    - _EPOCH_1995) - 1

    keys = lambda n: np.arange(n, dtype=np.int64)  # noqa: E731
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                       "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    pa.int32())}),
        "customer": pa.table({
            "c_custkey": keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": keys(n_part),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                    rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)], pa.string()),
            "p_type": _choice(rng, P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _choice(rng, ["O", "P", "F"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, 0, order_days, n_ord),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _choice(rng, ["O", "F"], n_li),
            "l_shipdate": _days(rng, 1, ship_days, n_li)}),
        "events": pa.table({
            "event_id": keys(n_ev),
            "ts": pa.array(np.sort(_EPOCH_2024 * _DAY_US + rng.integers(
                0, 30 * _DAY_US, n_ev)), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_ev)], pa.string())}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return {name: t.num_rows for name, t in tables.items()}
