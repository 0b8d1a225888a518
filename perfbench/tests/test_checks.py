"""Result comparison used by every output check."""

from checks import close_rows


def test_equal_in_any_row_and_column_order():
    assert close_rows(["a", "B"], [(1, "x"), (2, "y")],
                      ["b", "a"], [("y", 2), ("x", 1)]) is None


def test_row_count_and_value_differences_are_reported():
    assert "row count" in close_rows(["a"], [(1,)], ["a"], [(1,), (2,)])
    assert close_rows(["a"], [(1,)], ["a"], [(2,)]) is not None
    assert "columns" in close_rows(["a"], [(1,)], ["b"], [(1,)])


def test_float_tolerance():
    assert close_rows(["s"], [(0.1 + 0.2,)], ["s"], [(0.3,)]) is None
    assert close_rows(["s"], [(57307.1812,)], ["s"], [(57307.1813,)]) \
        is not None
    assert close_rows(["s"], [(57307.1812,)], ["s"], [(57307.1813,)],
                      rel=1e-7, abs_tol=1e-3) is None
    assert close_rows(["s"], [(None,)], ["s"], [(0.0,)]) is not None
