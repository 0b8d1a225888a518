"""r11 ArrayTest parity pins — the classes the ArrayTest comparator
(scripts/array_test_probe.py, removed after commit e45d69f) surfaced,
each pinned with the reference's own expected values.

References: Tests/ArrayTest.cpp (expectations quoted per test),
ExtensionFunctionsArray.hpp (array_append/array_equal families),
Shared/sqltypes.h (64-bit decimals, fixed-length kARRAY),
ImportExport/Importer.cpp (per-cell typed INSERT coercion).
"""
import shutil

import pytest


def test_array_append_null_array_is_empty(engine):
    # ArrayTest ArrayAppend*: a NULL array appends as if empty — {elem}
    # on NULL-array rows, {NULL} when both sides are NULL; a NULL
    # element appends as a NULL element
    r = engine.sql(
        "SELECT ARRAY_APPEND(CAST(NULL AS ARRAY<BIGINT>), 3) AS a, "
        "ARRAY_APPEND(CAST(NULL AS ARRAY<BIGINT>), CAST(NULL AS BIGINT))"
        " AS b, ARRAY_APPEND(ARRAY[4, 5], CAST(NULL AS INT)) AS c, "
        "TARRAY_APPEND(CAST(NULL AS ARRAY<STRING>), 'a') AS d, "
        "BARRAY_APPEND(ARRAY[true], false) AS e"
    ).first()
    assert list(r["a"]) == [3]
    assert list(r["b"]) == [None]
    assert list(r["c"]) == [4, 5, None]
    assert list(r["d"]) == ["a"]
    assert list(r["e"]) == [True, False]


def test_array_equal_null_is_false(engine):
    # ArrayTest ArrayEqual: NULL arrays compare 0, even col = col
    r = engine.sql(
        "SELECT ARRAY_EQUAL(CAST(NULL AS ARRAY<INT>), "
        "CAST(NULL AS ARRAY<INT>)) AS a, "
        "ARRAY_EQUAL(ARRAY[1, 2], ARRAY[1, 2]) AS b, "
        "ARRAY_EQUAL(ARRAY[1, 2], ARRAY[2, 1]) AS c"
    ).first()
    assert r["a"] is False
    assert r["b"] is True
    assert r["c"] is False


def test_literal_decimal_array_64bit_rule(engine):
    # ArrayTest Select.LiteralDecimals: decimal literals share a
    # common decimal type up to the reference's 64-bit precision (19);
    # beyond it the array is DOUBLE
    r = engine.sql(
        "SELECT array_equal({POWER(2.0,59), POWER(2.0,-20)}, "
        "{576460752303423488.0, 0.00000095367431640625}) AS e, "
        "CARDINALITY({1.0, 10.00}) AS c"
    ).first()
    assert r["e"] is True
    assert r["c"] == 2
    # r12: the ARRAY[...] constructor binds the same 64-bit decimal
    # domain as the {...} spelling (r11 verdict What's-wrong #3)
    r2 = engine.sql(
        "SELECT array_equal(ARRAY[POWER(2.0,59), POWER(2.0,-20)], "
        "ARRAY[576460752303423488.0, 0.00000095367431640625]) AS e, "
        "CARDINALITY(ARRAY[1.0, 10.00]) AS c"
    ).first()
    assert r2["e"] is True
    assert r2["c"] == 2


def test_insert_values_typed_coercion(engine, spark):
    # ArrayTest fixtures INSERT quoted booleans and brace arrays;
    # fixed-length array DDL (BIGINT[2]) maps like varlen
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.replace("file:", "")
    engine.sql("DROP TABLE IF EXISTS arr_ins_pin")
    shutil.rmtree(f"{wh}/arr_ins_pin", ignore_errors=True)
    try:
        engine.sql("CREATE TABLE arr_ins_pin (b BOOLEAN, "
                   "arrb BOOLEAN[], fixed BIGINT[2], t TINYINT)")
        engine.sql("INSERT INTO arr_ins_pin VALUES "
                   "('true', {'true', 'false'}, {1, 2}, 3), "
                   "(NULL, NULL, NULL, NULL)")
        rows = engine.sql("SELECT * FROM arr_ins_pin ORDER BY b NULLS "
                          "LAST").collect()
        assert rows[0]["b"] is True
        assert list(rows[0]["arrb"]) == [True, False]
        assert list(rows[0]["fixed"]) == [1, 2]
        assert rows[0]["t"] == 3
        assert rows[1]["b"] is None and rows[1]["arrb"] is None
    finally:
        engine.sql("DROP TABLE IF EXISTS arr_ins_pin")


def test_dot_product_length_and_null(engine):
    # ArrayDotProduct(Varlen)Test: length mismatch and NULL array are
    # NULL; matching lengths compute across int/fp element types
    r = engine.sql(
        "SELECT DOT_PRODUCT(ARRAY[1, 2, 3], ARRAY[1.0, 2.0, 3.0]) AS a, "
        "DOT_PRODUCT(ARRAY[1, 2], ARRAY[1, 2, 3]) IS NULL AS b, "
        "DOT_PRODUCT(CAST(NULL AS ARRAY<DOUBLE>), ARRAY[1.0]) IS NULL "
        "AS c"
    ).first()
    assert float(r["a"]) == 14.0
    assert r["b"] is True
    assert r["c"] is True


@pytest.mark.parametrize("stmt", [
    "SELECT CARDINALITY({}) AS c",
    "SELECT CARDINALITY({1,2}) AS c",
])
def test_brace_literal_cardinality(engine, stmt):
    # CardinalityForConstantArray: {} -> 0, {1,2} -> 2
    v = engine.sql(stmt).first()["c"]
    assert v == (0 if "{}" in stmt else 2)
