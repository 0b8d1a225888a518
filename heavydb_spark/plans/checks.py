"""Plan assertions — the scale-review toolkit.

The reference validates physical choices in C++ unit tests (hash table
kind, fragment skipping). Our equivalent: parse `.explain("formatted")`
output and assert the plan property we designed for — filter pushed to
the parquet scan, projection pruned, dimension broadcast, codegen spans
present. Used by tests/test_plans.py after every operator lands
(the "would this survive 100×?" gate).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def has_pushed_filters(df: DataFrame) -> bool:
    """Predicate reached the parquet scan (fragment-skip analogue,
    QueryEngine/InputMetadata.cpp)."""
    s = plan_string(df)
    for line in s.splitlines():
        if "PushedFilters" in line and "[]" not in line.replace(" ", ""):
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (lazy-fetch analogue,
    QueryEngine/PlanState.h:47 — column pruning check)."""
    s = plan_string(df)
    cols: list[str] = []
    for line in s.splitlines():
        if "ReadSchema" in line:
            inside = line.split("struct<", 1)
            if len(inside) == 2:
                body = inside[1].rsplit(">", 1)[0]
                cols += [f.split(":")[0].strip() for f in body.split(",") if f.strip()]
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df, "simple")


def whole_stage_codegen_count(df: DataFrame) -> int:
    """Number of fused codegen stages (the Tungsten analogue of the
    reference's per-query LLVM module). With AQE the simple plan hides
    codegen markers pre-execution, so use the codegen explain mode."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        s = plan_string(df, "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    marker = "WholeStageCodegen subtrees"
    for line in s.splitlines():
        if marker in line:  # "Found N WholeStageCodegen subtrees."
            for tok in line.split():
                if tok.isdigit():
                    return int(tok)
    return s.count("WholeStageCodegen")


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the plan — the shuffle budget check."""
    return plan_string(df, "simple").count("Exchange")
