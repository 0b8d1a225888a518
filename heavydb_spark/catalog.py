"""Fixture catalog: the driver's parquet tables as DataFrames / temp views.

Reference analogue: HeavyDB's SQLite system catalog + fragmenter metadata
(Catalog/Catalog.cpp, Fragmenter/InsertOrderFragmenter.h). In Spark the
catalog role collapses into `spark.read.parquet` + temp views; fragment
min/max pruning (QueryEngine/InputMetadata.cpp) is played by parquet
row-group statistics and partition pruning, which Catalyst applies
automatically when plans stay declarative.

Scale note: everything here is a lazy scan — no collect, no pandas.
At 100 TB these same calls produce splittable columnar scans whose
column pruning / predicate pushdown is visible in `.explain`.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heavydb_spark.session import apply_runtime_conf

TABLES = (
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

# Small dimension tables a planner should always broadcast in joins.
BROADCAST_TABLES = {"region", "nation"}


# Loaded-DataFrame memo: spark.read.parquet costs ~0.3-0.5 s of
# driver-side file listing + footer schema read PER TABLE, so a
# repeated attach()/T() (every benchmark iteration, every catalog
# query) paid seconds before any work ran. The fixture parquet under
# sf_dir is immutable, and a DataFrame is an immutable plan, so the
# (session, dir, table) triple can be reused for the session's
# lifetime; view registration still happens per attach (cheap), which
# preserves the re-attach-restores-pristine-views semantics DML tests
# rely on. Weak-keyed by session so dropped sessions (and their
# cached plans) are garbage-collectable — a WeakKeyDictionary entry
# dies with the session, which also makes id() reuse a non-issue.
_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; normalizes events.ts (parquet TIMESTAMP NANOS).

    Spark has no nanosecond timestamp type; with
    `spark.sql.legacy.parquet.nanosAsLong` the column arrives as int64
    nanoseconds and we convert to TIMESTAMP_NTZ at microsecond precision
    (the documented precision delta — SURVEY.md §1.2 TIMESTAMP(9)).
    Integer `div` keeps the full int64 domain (a double round-trip would
    lose precision above 2^53).
    """
    try:
        per_session = _LOAD_CACHE.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable: no caching
        per_session = {}
    hit = per_session.get((sf_dir, name))
    if hit is not None:
        return hit
    apply_runtime_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    per_session[(sf_dir, name)] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register each table as a temp view for `engine.sql(...)`."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Money columns per fixture table — the NUMERIC(18,2)-typed surface the
# reference gives these TPC-H columns (Shared/sqltypes.h:56-71 stores
# DECIMAL as scaled int64; SURVEY.md §7.3 DECIMAL fidelity).
DECIMAL_COLUMNS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_extendedprice", "l_discount", "l_tax"),
    "orders": ("o_totalprice",),
    "part": ("p_retailprice",),
    "supplier": ("s_acctbal",),
    "customer": ("c_acctbal",),
}


def load_table_decimal(
    spark: SparkSession, sf_dir: str, name: str, precision: int = 18,
    scale: int = 2,
) -> DataFrame:
    """Typed view: money columns cast to DECIMAL(precision, scale).

    Matches the reference's NUMERIC storage (scaled int64) for exact
    money arithmetic: decimal sums/products are exact, unlike the
    DOUBLE fixtures. Divergence to note: on downscale casts Spark
    rounds HALF_UP while the reference's scaled-int conversion (and
    DuckDB) truncates — pinned in tests/test_types.py.
    """
    df = load_table(spark, sf_dir, name)
    for c in DECIMAL_COLUMNS.get(name, ()):
        df = df.withColumn(c, F.col(c).cast(f"decimal({precision},{scale})"))
    return df
