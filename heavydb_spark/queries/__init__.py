"""Query catalog — every operator class from SURVEY.md §2 as a named query.

Each entry pairs a Spark DataFrame builder `(spark, sf_dir) -> DataFrame`
with (where SQL-expressible) an ANSI-SQL oracle string DuckDB runs on the
same parquet — the DuckDB analogue of the reference's SQLiteComparator
pattern (Tests/ExecuteTest.cpp:314). `__spark_entry__.py` exposes this
registry to the verify driver.

Conventions:
- every computed column is aliased identically in Spark and oracle SQL;
- floating aggregates are rounded (2dp sums, 4dp avgs) on BOTH sides so
  cross-engine FP summation order can't flip the value hash;
- results carry a deterministic ORDER BY-able key set (no ties).
"""

from __future__ import annotations

from heavydb_spark.queries.registry import ORACLES, QUERIES, query  # noqa: F401

# Import for side effect: each module registers its queries.
from heavydb_spark.queries import (  # noqa: F401,E402
    core,
    aggregates,
    joins,
    windows,
    setops,
    scalar_functions,
    tablefuncs,
    datapipe,
    streaming_batch,
    extended,
    tpch,
    invariants,
)
