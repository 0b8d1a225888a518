"""Seeded fixture generator: the star schema, events, documents and
embeddings tables the catalog heads read, written as one parquet file
each (one row group, like the fixtures the catalog was written for).

Row counts scale with `sf` the way the catalog's fixtures do
(lineitem = 6,000,000 x sf); value domains follow the same shapes
(uniform keys, TPC-H-like categorical pools, 30-day event stream,
bag-of-words documents over a small vocabulary). The same
(seed, sf) always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "blue", "hot", "cold", "new", "old", "large", "small"]
P_NOUN = ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the data spark table query scan filter join group agg sort hash "
    "key value row column batch stream window merge order line part "
    "customer vector fast slow big small"
).split()
N_SOURCES = 20
EMBED_DIM = 64
MS_PER_DAY = 86_400_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * MS_PER_DAY, pa.timestamp("ms"))


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every fixture table for (seed, sf), built in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 100)
    n_vec = max(int(20_000 * sf), 50)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add(
            "Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts_days(EPOCH_1995 + rng.integers(0, 2405, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_days(EPOCH_1995 + 1 + rng.integers(0, 2499, n_line)),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + EVENTS_START_US
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 200, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lengths = rng.integers(8, 97, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_doc)]
    # a few exact re-posts so the dedup heads have duplicates to find
    for i in rng.choice(n_doc, size=max(n_doc // 600, 1), replace=False):
        texts[i] = texts[(i + 7) % n_doc]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.normal(0, 0.1, (n_vec, EMBED_DIM)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype("int32"),
    })
    return out


def write(out_dir: str, seed: int, sf: float) -> str:
    """Write every table of (seed, sf) as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)
    return out_dir
