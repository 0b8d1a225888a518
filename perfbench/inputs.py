"""Everything a run feeds the program, derived from the run's seed:
dashboard statement streams, ingest batches, CSV files and
predicates, and the head order within each batch pass.

The program receives only what these functions return; the same seed
gives byte-identical statements and rows.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# -- dashboard ---------------------------------------------------------

POOL_SIZE = 40  # literal tuples per template
ZIPF_S = 1.1  # skew of literal choice: some statement texts repeat


@dataclass(frozen=True)
class Template:
    """A HeavyDB-dialect SELECT and its standard-SQL (DuckDB) twin,
    both formatted from one literal tuple."""

    name: str
    heavy: str
    twin: str
    literals: object  # (rng, scale) -> dict of format fields


def _day(rng) -> str:
    d = np.datetime64("1995-01-01") + int(rng.integers(0, 2300))
    return str(d)


def _band(rng, lo: int, hi: int, width: int, fmt=str) -> dict:
    """`lo`/`hi` bounds of a seeded band of `width` values in [lo, hi):
    over uniform data a band's rows, and so the statement's cost, do
    not depend on which band the seed picks."""
    k = int(rng.integers(lo, hi - width + 1))
    return {"lo": fmt(k), "hi": fmt(k + width - 1)}


TEMPLATES = (
    Template(
        "filter_groupby",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS qty FROM lineitem WHERE l_discount BETWEEN {lo} AND {hi} "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS qty FROM lineitem WHERE l_discount BETWEEN {lo} AND {hi} "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
        lambda rng, s: _band(rng, 0, 11, 5, lambda k: f"{k / 100:.2f}"),
    ),
    Template(
        "dateadd_range",
        "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
        "FROM orders WHERE o_orderdate >= TIMESTAMP '{day} 00:00:00' "
        "AND o_orderdate < DATEADD('day', {k}, TIMESTAMP '{day} 00:00:00') "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
        "FROM orders WHERE o_orderdate >= TIMESTAMP '{day} 00:00:00' "
        "AND o_orderdate < TIMESTAMP '{day} 00:00:00' + INTERVAL {k} DAY "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        lambda rng, s: {"day": _day(rng),
                        "k": int(rng.choice([7, 30, 90]))},
    ),
    Template(
        "sample_join",
        "SELECT c_nationkey, SAMPLE(n_name) AS nation, COUNT(*) AS n "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > {x} GROUP BY c_nationkey ORDER BY c_nationkey",
        "SELECT c_nationkey, ANY_VALUE(n_name) AS nation, COUNT(*) AS n "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > {x} GROUP BY c_nationkey ORDER BY c_nationkey",
        lambda rng, s: {"x": int(rng.integers(-1000, 10000))},
    ),
    Template(
        "approx_median",
        "SELECT l_returnflag, APPROX_MEDIAN(l_extendedprice) AS med, "
        "COUNT(*) AS n FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi} "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
        "SELECT l_returnflag, MEDIAN(l_extendedprice) AS med, "
        "COUNT(*) AS n FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi} "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
        lambda rng, s: _band(rng, 1, 51, 10),
    ),
    Template(
        "int_division",
        "SELECT l_linenumber / {k} AS bucket, COUNT(*) AS n FROM lineitem "
        "WHERE l_partkey BETWEEN {lo} AND {hi} GROUP BY l_linenumber / {k} ORDER BY bucket",
        "SELECT l_linenumber // {k} AS bucket, COUNT(*) AS n FROM lineitem "
        "WHERE l_partkey BETWEEN {lo} AND {hi} GROUP BY l_linenumber // {k} ORDER BY bucket",
        lambda rng, s: {"k": int(rng.integers(2, 5)),
                        **_band(rng, 0, s["part"], s["part"] // 5)},
    ),
    Template(
        "point_lookup",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey = {key}",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey = {key}",
        lambda rng, s: {"key": int(rng.integers(0, s["orders"]))},
    ),
    Template(
        "topk_limit",
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_mktsegment = '{seg}' ORDER BY c_acctbal DESC, c_custkey "
        "LIMIT {k}",
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_mktsegment = '{seg}' ORDER BY c_acctbal DESC, c_custkey "
        "LIMIT {k}",
        lambda rng, s: {
            "seg": str(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"])),
            "k": int(rng.choice([5, 10, 20, 50]))},
    ),
    Template(
        "region_join",
        "SELECT r_name, COUNT(*) AS n, SUM(s_acctbal) AS bal FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE s_acctbal > {x} "
        "GROUP BY r_name ORDER BY r_name",
        "SELECT r_name, COUNT(*) AS n, SUM(s_acctbal) AS bal FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE s_acctbal > {x} "
        "GROUP BY r_name ORDER BY r_name",
        lambda rng, s: {"x": int(rng.integers(-1000, 9000))},
    ),
)


@dataclass(frozen=True)
class Statement:
    template: str
    heavy: str
    twin: str


def table_sizes(sf: float) -> dict[str, int]:
    """Key ranges the literal pools draw from (datagen's row counts)."""
    return {"orders": max(int(1_500_000 * sf), 100),
            "part": max(int(200_000 * sf), 50)}


def literal_pools(seed: int, sf: float) -> dict[str, list[dict]]:
    rng = np.random.default_rng([seed, 1])
    sizes = table_sizes(sf)
    return {t.name: [t.literals(rng, sizes) for _ in range(POOL_SIZE)]
            for t in TEMPLATES}


def dashboard_streams(seed: int, sf: float, clients: int, length: int,
                      key: int = 0) -> list[list[Statement]]:
    """One statement list per client: every template once per block
    of len(TEMPLATES) statements, in a seeded order (so each run sees
    the same template mix), each with a Zipf-chosen literal tuple from
    that template's pool. `key` selects an independent set of streams
    over the same pools (the warm-up uses its own)."""
    pools = literal_pools(seed, sf)
    weights = 1.0 / np.arange(1, POOL_SIZE + 1) ** ZIPF_S
    weights /= weights.sum()
    streams = []
    blocks = -(-length // len(TEMPLATES))
    for c in range(clients):
        rng = np.random.default_rng([seed, 2, key, c])
        ts = np.concatenate([rng.permutation(len(TEMPLATES))
                             for _ in range(blocks)])[:length]
        ls = rng.choice(POOL_SIZE, size=length, p=weights)
        stream = []
        for ti, li in zip(ts, ls):
            t = TEMPLATES[ti]
            lit = pools[t.name][li]
            stream.append(Statement(t.name, t.heavy.format(**lit),
                                    t.twin.format(**lit)))
        streams.append(stream)
    return streams


# -- ingest -------------------------------------------------------------

INGEST_TABLE = "ingest_events"
INGEST_DDL = (
    f"CREATE TABLE {INGEST_TABLE} (id BIGINT, user_id BIGINT, kind TEXT, "
    "amount DOUBLE, ts TIMESTAMP)"
)
INGEST_SCHEMA = pa.schema([
    ("id", pa.int64()), ("user_id", pa.int64()), ("kind", pa.string()),
    ("amount", pa.float64()), ("ts", pa.timestamp("s")),
])
INGEST_READ = (
    f"SELECT kind, COUNT(*) AS n, SUM(amount) AS total FROM {INGEST_TABLE} "
    "GROUP BY kind ORDER BY kind"
)
KINDS = ("click", "purchase", "refund", "view")
BATCH_ROWS = 500  # rows per load_table batch and per CSV file
KEEP_CYCLES = 8  # DELETE keeps the newest KEEP_CYCLES cycles' rows
N_USERS = 50
CYCLES = 8  # pre-generated cycles; a traced run uses TRACED_CYCLES
TRACED_CYCLES = 2


def ingest_rows(seed: int, first_id: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3, first_id])
    ts0 = np.datetime64("2024-01-01T00:00:00", "s")
    return pa.table({
        "id": np.arange(first_id, first_id + n, dtype="int64"),
        "user_id": rng.integers(0, N_USERS, n).astype("int64"),
        "kind": np.array(KINDS)[rng.integers(0, len(KINDS), n)],
        "amount": np.round(rng.uniform(0, 500, n), 2),
        "ts": ts0 + rng.integers(0, 30 * 86_400, n).astype("timedelta64[s]"),
    }, schema=INGEST_SCHEMA)


def write_csv(table: pa.Table, path: str) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(table.column_names)
        cols = [table.column(c).to_pylist() for c in table.column_names]
        for row in zip(*cols):
            w.writerow([v.strftime("%Y-%m-%d %H:%M:%S")
                        if hasattr(v, "strftime") else v for v in row])


@dataclass(frozen=True)
class Cycle:
    """One ingest cycle: append a batch, COPY a CSV, UPDATE, DELETE,
    with a read of the table after each write."""

    index: int
    batch: pa.Table
    csv_path: str
    csv_rows: pa.Table
    update_sql: str
    delete_sql: str


def _cycle_base(i: int) -> int:
    return (i + KEEP_CYCLES) * 2 * BATCH_ROWS


def initial_cycle(seed: int, csv_dir: str) -> Cycle:
    """The set-up cycle: the table's starting rows (KEEP_CYCLES cycles'
    worth, ids below every cycle's) half appended, half COPYed, then an
    UPDATE and a DELETE that match no row. It leaves every write path
    warm before the timed cycle."""
    os.makedirs(csv_dir, exist_ok=True)
    rows = ingest_rows(seed, 0, KEEP_CYCLES * 2 * BATCH_ROWS)
    half = rows.num_rows // 2
    path = os.path.join(csv_dir, "initial.csv")
    write_csv(rows.slice(half), path)
    return Cycle(
        index=-1, batch=rows.slice(0, half), csv_path=path,
        csv_rows=rows.slice(half),
        update_sql=f"UPDATE {INGEST_TABLE} SET amount = amount WHERE id < 0",
        delete_sql=f"DELETE FROM {INGEST_TABLE} WHERE id < 0",
    )


def ingest_cycles(seed: int, csv_dir: str) -> list[Cycle]:
    os.makedirs(csv_dir, exist_ok=True)
    out = []
    for i in range(CYCLES):
        rng = np.random.default_rng([seed, 4, i])
        base = _cycle_base(i)
        batch = ingest_rows(seed, base, BATCH_ROWS)
        csv_rows = ingest_rows(seed, base + BATCH_ROWS, BATCH_ROWS)
        path = os.path.join(csv_dir, f"cycle{i:03d}.csv")
        write_csv(csv_rows, path)
        user = int(rng.integers(0, N_USERS))
        delta = round(float(rng.uniform(1, 10)), 2)
        kind = str(rng.choice(KINDS))
        out.append(Cycle(
            index=i, batch=batch, csv_path=path, csv_rows=csv_rows,
            update_sql=(f"UPDATE {INGEST_TABLE} SET amount = amount + {delta}, "
                        f"kind = '{kind}' WHERE user_id = {user}"),
            # drop the oldest cycle's rows: the table stays near
            # KEEP_CYCLES cycles in size however long the run
            delete_sql=(f"DELETE FROM {INGEST_TABLE} "
                        f"WHERE id < {_cycle_base(i - KEEP_CYCLES + 1)}"),
        ))
    return out


# -- batch --------------------------------------------------------------

ANALYTICS_HEADS = (
    "agg_groupby_highcard",  # high-cardinality hash aggregate
    "join_multistep_tpch_q3",  # three-way join, aggregate, top-k
    "window_moving_avg",  # sorted window frame
)
CORPUS_HEADS = (
    "dedup_minhash_lsh",  # shingle hashing, LSH banding, pair join
    "text_quality",  # regex feature maps over every document
)


def layer_of(head: str) -> str:
    """The module a head's work runs in, the prefix of its span."""
    return "operators" if head in CORPUS_HEADS else "queries"


def pass_order(seed: int, k: int) -> list[str]:
    """Seeded order of pass k's heads: every head once."""
    ops = [*ANALYTICS_HEADS, *CORPUS_HEADS]
    rng = np.random.default_rng([seed, 5, k])
    return [ops[i] for i in rng.permutation(len(ops))]
