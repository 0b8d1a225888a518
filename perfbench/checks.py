"""Output checks: program results against DuckDB over the same files."""

from __future__ import annotations

import math


def _by_name(cols: list[str], rows) -> tuple[list[str], list[list]]:
    """Columns lower-cased and put in name order, rows to match."""
    low = [c.lower() for c in cols]
    idx = sorted(range(len(low)), key=lambda j: low[j])
    return [low[j] for j in idx], [[r[j] for j in idx] for r in rows]


def close_rows(cols_a, rows_a, cols_b, rows_b, rel: float = 1e-9,
               abs_tol: float = 1e-6) -> str | None:
    """None when both results hold the same columns (by name, any
    order) and the same rows (any order); else a one-line description
    of the first difference. Floats compare with a tolerance: sums of
    doubles differ in their last bits with summation order, and a value
    rounded on an exact half can round differently in each engine."""
    ca, ra = _by_name(cols_a, rows_a)
    cb, rb = _by_name(cols_b, rows_b)
    if ca != cb:
        return f"columns {ca} != {cb}"
    if len(ra) != len(rb):
        return f"row count {len(ra)} != {len(rb)}"

    def key(r):
        return [(v is None, str(type(v).__name__), v if v is not None else 0)
                for v in r]

    for x, y in zip(sorted(ra, key=key), sorted(rb, key=key)):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or not math.isclose(
                        u, v, rel_tol=rel, abs_tol=abs_tol):
                    return f"row {x} != {y}"
            elif u != v:
                return f"row {x} != {y}"
    return None


def arrow_rows(table) -> list[tuple]:
    """A pyarrow Table's rows as tuples of Python values."""
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return list(zip(*cols))
