"""Seeded generator for the star-schema tables the query mix reads.

Writes one parquet file per table (``region nation customer supplier
part orders lineitem events documents embeddings``) with the column
names, types and value domains of the engine's reference test data,
so every registered query and its DuckDB oracle run unchanged on it.
Row counts scale with ``sf`` (lineitem has 6e6·sf rows). The same
seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_PART_ADJ = ["cold", "hot", "large", "new", "old", "red", "small", "blue"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget",
              "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = ("a agg batch big column customer data filter fast group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()

_US_PER_DAY = 86_400_000_000


def _days(start: str, n_days: int, rng: np.random.Generator,
          size: int) -> pa.Array:
    """Midnight timestamps, uniform over ``n_days`` from ``start``."""
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, size) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float,
           size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with planted exact and near duplicates
    (about 2% each), so dedup and LSH queries find real matches."""
    lengths = rng.integers(8, 100, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in lengths]
    n_dup = max(1, n // 50)
    src = rng.choice(n, 2 * n_dup, replace=False)
    for d, s in zip(src[:n_dup], src[n_dup:]):  # exact copies
        texts[d] = texts[s]
    near = rng.choice(n, 2 * n_dup, replace=False)
    for d, s in zip(near[:n_dup], near[n_dup:]):  # one word changed
        toks = texts[s].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[d] = " ".join(toks)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64
                ) -> pa.Table:
    """Unit vectors scattered around ten label centroids."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.standard_normal((10, dim))
    v = centroids[labels] + 0.8 * rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels,
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table at scale ``sf``, drawn from one seeded stream."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[
            rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 2498, rng, n_line),
    })
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, int(50_000 * sf))
    out["embeddings"] = _embeddings(rng, int(20_000 * sf))
    return out


def write(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
