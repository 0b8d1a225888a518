"""Array / vector functions (SURVEY.md §2.8 array ops).

Reference: array_at / CARDINALITY / UNNEST / DOT_PRODUCT
(QueryEngine/ArrayOps.cpp:246, RelAlgTranslator::translateDotProduct,
DotProductReturnTypes.h). Spark mapping: element_at / size / explode are
built-in; the vector math is expressed with higher-order functions
(zip_with + aggregate), which run JVM-side inside codegen — no Python in
the hot path. These are the primitives the similarity-search operators
(operators/similarity.py) build on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    """Sum of elementwise products; JVM higher-order functions."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double"))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


# SQL UDF forms (Spark 4 SQL scalar functions, stay JVM-side): the
# family's declarations for `register_all` (functions/__init__.py).
FUNCTIONS = {
    "dot_product": """
        CREATE OR REPLACE TEMPORARY FUNCTION dot_product(
            a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE
        RETURN aggregate(zip_with(a, b, (x, y) -> x * y),
                         CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
    """,
    "cosine_similarity": """
        CREATE OR REPLACE TEMPORARY FUNCTION cosine_similarity(
            a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE
        RETURN aggregate(zip_with(a, b, (x, y) -> x * y),
                         CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
               / (sqrt(aggregate(a, CAST(0.0 AS DOUBLE),
                                 (acc, v) -> acc + v * v))
                  * sqrt(aggregate(b, CAST(0.0 AS DOUBLE),
                                   (acc, v) -> acc + v * v)))
    """,
}
