"""Randomized filter/agg query generator vs the DuckDB oracle.

The reference covers type/null/predicate edge cases with a 31k-line
enumerated suite (Tests/ExecuteTest.cpp); we cover the same space with a
seeded generator (SURVEY.md §5.2 item 4): each seed derives a random
filter + group-by + aggregate SQL statement over the fixture schema,
runs the SAME string through the engine (Spark SQL + dialect shim) and
DuckDB, and compares canonicalized results. Seeds are fixed, so failures
reproduce exactly.
"""

from __future__ import annotations

import random

import pytest

from conftest import canonical

# (numeric cols, string cols: (col, sample values), date col) per table
TABLES = {
    "lineitem": {
        "nums": [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        ],
        "strs": [
            ("l_returnflag", ["A", "N", "R"]),
            ("l_linestatus", ["F", "O"]),
        ],
        "date": "l_shipdate",
        "num_ranges": {
            "l_orderkey": (1, 6000),
            "l_partkey": (1, 200),
            "l_suppkey": (1, 10),
            "l_linenumber": (1, 7),
            "l_quantity": (1, 50),
            "l_extendedprice": (900, 100000),
            "l_discount": (0.0, 0.1),
        },
    },
    "orders": {
        "nums": ["o_orderkey", "o_custkey", "o_totalprice"],
        "strs": [
            ("o_orderstatus", ["F", "O", "P"]),
            ("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
        ],
        "date": "o_orderdate",
        "num_ranges": {
            "o_orderkey": (1, 1500),
            "o_custkey": (1, 150),
            "o_totalprice": (1000, 500000),
        },
    },
}


def _predicate(rng: random.Random, spec: dict) -> str:
    if spec["strs"] and spec.get("date"):
        # original list/order — keeps historical seeds reproducible
        kinds = ["num_cmp", "num_between", "str_in", "str_like", "date_cmp", "null_check"]
    else:
        kinds = ["num_cmp", "num_between", "null_check"]
        if spec["strs"]:
            kinds += ["str_in", "str_like"]
    kind = rng.choice(kinds)
    if kind == "num_cmp":
        col = rng.choice(spec["nums"])
        lo, hi = spec["num_ranges"][col]
        lit = round(rng.uniform(lo, hi), 3)
        op = rng.choice(["<", "<=", ">", ">=", "=", "<>"])
        return f"{col} {op} {lit}"
    if kind == "num_between":
        col = rng.choice(spec["nums"])
        lo, hi = spec["num_ranges"][col]
        a, b = sorted([round(rng.uniform(lo, hi), 3) for _ in range(2)])
        return f"{col} BETWEEN {a} AND {b}"
    if kind == "str_in":
        col, vals = rng.choice(spec["strs"])
        picked = rng.sample(vals, rng.randint(1, len(vals)))
        lst = ", ".join(f"'{v}'" for v in picked)
        neg = "NOT " if rng.random() < 0.3 else ""
        return f"{col} {neg}IN ({lst})"
    if kind == "str_like":
        col, vals = rng.choice(spec["strs"])
        ch = rng.choice(list("".join(vals)))
        return f"{col} LIKE '%{ch}%'"
    if kind == "date_cmp":
        col = spec["date"]
        y = rng.randint(1992, 1998)
        m = rng.randint(1, 12)
        op = rng.choice(["<", ">="])
        return f"{col} {op} TIMESTAMP '{y}-{m:02d}-01 00:00:00'"
    col = rng.choice(spec["nums"])
    neg = "NOT " if rng.random() < 0.5 else ""
    return f"{col} IS {neg}NULL"


def _agg(rng: random.Random, spec: dict, alias: str) -> str:
    col = rng.choice(spec["nums"])
    kind = rng.choice(
        ["count_star", "count", "count_distinct", "sum_int", "sum_dbl", "avg", "min", "max"]
    )
    if kind == "count_star":
        return f"count(*) AS {alias}"
    if kind == "count":
        return f"count({col}) AS {alias}"
    if kind == "count_distinct":
        return f"count(DISTINCT {col}) AS {alias}"
    if kind == "sum_int":
        # exact integer sum — no FP associativity hazard
        return f"sum(CAST(floor({col}) AS BIGINT)) AS {alias}"
    if kind == "sum_dbl":
        # decimal sum is order-insensitive on both engines
        return f"sum(CAST({col} AS DECIMAL(18, 3))) AS {alias}"
    if kind == "avg":
        # NOT avg(CAST(col AS DOUBLE)): a double avg inherits each
        # engine's partial-aggregation SUMMATION ORDER, so a group
        # whose true mean sits on an exact .xxxx5 half can land on
        # opposite sides of the boundary and flip ANY subsequent
        # half-rounding form — the r8 floor(x*1e4 + 0.5) rewrite fixed
        # only the identical-double case (r9 sweep seeds 1127/1171:
        # 254123.73175 flipped). Deterministic form: order-insensitive
        # exact DECIMAL sum, cast once to double, divided by the exact
        # count — bit-identical on both engines — THEN half-rounded.
        return (
            f"floor(CAST(sum(CAST({col} AS DECIMAL(18, 3))) AS DOUBLE)"
            f" / count({col}) * 1e4 + 0.5) * 1e-4 AS {alias}"
        )
    return f"{kind}({col}) AS {alias}"


def generate_sql(seed: int) -> str:
    rng = random.Random(seed)
    table = rng.choice(list(TABLES))
    spec = TABLES[table]
    preds = [_predicate(rng, spec) for _ in range(rng.randint(1, 3))]
    glue = f" {rng.choice(['AND', 'OR'])} "
    where = glue.join(preds)
    n_keys = rng.randint(0, 2)
    keys = rng.sample([c for c, _ in spec["strs"]] + ["%(date)s_key"], n_keys) if n_keys else []
    keys = [
        k if not k.endswith("_key") else f"year({spec['date']})"
        for k in keys
    ]
    key_aliases = [f"k{i}" for i in range(len(keys))]
    aggs = [_agg(rng, spec, f"a{i}") for i in range(rng.randint(1, 4))]
    sel = ", ".join(
        [f"{k} AS {a}" for k, a in zip(keys, key_aliases)] + aggs
    )
    sql = f"SELECT {sel} FROM {table} WHERE {where}"
    if keys:
        sql += " GROUP BY " + ", ".join(keys)
        if rng.random() < 0.3:
            sql += " HAVING count(*) > 1"
    return sql


# 1127/1171: r9 sweep seeds whose avg groups sit on an exact .xxxx5
# half — the double-avg form flipped on Spark-vs-DuckDB summation
# order; the decimal-sum/count avg form must keep them green
@pytest.mark.parametrize("seed", list(range(100)) + [1127, 1171])
def test_randomized_filter_agg(engine, ddb, seed):
    sql = generate_sql(seed)
    sdf = engine.sql(sql)
    srows = [tuple(r) for r in sdf.collect()]
    scols = [c.lower() for c in sdf.columns]
    ores = ddb.sql(sql)
    orows = ores.fetchall()
    ocols = [c.lower() for c in ores.columns]
    assert sorted(scols) == sorted(ocols), sql
    sidx = [scols.index(c) for c in sorted(scols)]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    s_c = canonical([[r[i] for i in sidx] for r in srows])
    o_c = canonical([[r[i] for i in oidx] for r in orows])
    assert s_c == o_c, f"seed={seed} sql={sql}\nspark={s_c[:3]}\noracle={o_c[:3]}"

# dimension-table specs for the join generator ONLY (keeping TABLES
# untouched preserves the single-table generator's historical seeds)
DIM_TABLES = {}
DIM_TABLES["customer"] = {
    "nums": ["c_custkey", "c_nationkey", "c_acctbal"],
    "strs": [("c_mktsegment", ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])],
    "date": None,
    "num_ranges": {"c_custkey": (1, 150), "c_nationkey": (0, 24), "c_acctbal": (-999, 9999)},
}
DIM_TABLES["part"] = {
    "nums": ["p_partkey", "p_retailprice"] if False else ["p_partkey"],
    "strs": [("p_brand", ["Brand#1", "Brand#2", "Brand#3", "Brand#4", "Brand#5"])],
    "date": None,
    "num_ranges": {"p_partkey": (1, 200)},
}
DIM_TABLES["nation"] = {
    "nums": ["n_nationkey", "n_regionkey"],
    "strs": [],
    "date": None,
    "num_ranges": {"n_nationkey": (0, 24), "n_regionkey": (0, 4)},
}


JOINS = [
    # (left, right, condition, extra join type choices)
    ("orders", "customer", "o_custkey = c_custkey"),
    ("lineitem", "orders", "l_orderkey = o_orderkey"),
    ("lineitem", "part", "l_partkey = p_partkey"),
    ("customer", "nation", "c_nationkey = n_nationkey"),
]


def generate_join_sql(seed: int) -> str:
    rng = random.Random(10_000 + seed)
    lt, rt, cond = rng.choice(JOINS)
    how = rng.choice(["JOIN", "LEFT JOIN", "JOIN", "JOIN"])
    specs = {**TABLES, **DIM_TABLES}
    lspec, rspec = specs.get(lt), specs.get(rt)
    preds = []
    if lspec:
        preds.append(_predicate(rng, lspec))
    if rspec and rng.random() < 0.5:
        preds.append(_predicate(rng, rspec))
    where = " AND ".join(preds) if preds else "1 = 1"
    aggs = [_agg(rng, lspec or rspec, f"a{i}") for i in range(rng.randint(1, 3))]
    return (
        f"SELECT {', '.join(aggs)} FROM {lt} {how} {rt} ON {cond} "
        f"WHERE {where}"
    )


@pytest.mark.parametrize("seed", range(35))
def test_randomized_join_agg(engine, ddb, seed):
    sql = generate_join_sql(seed)
    sdf = engine.sql(sql)
    srows = [tuple(r) for r in sdf.collect()]
    scols = [c.lower() for c in sdf.columns]
    ores = ddb.sql(sql)
    orows = ores.fetchall()
    ocols = [c.lower() for c in ores.columns]
    assert sorted(scols) == sorted(ocols), sql
    sidx = [scols.index(c) for c in sorted(scols)]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    s_c = canonical([[r[i] for i in sidx] for r in srows])
    o_c = canonical([[r[i] for i in oidx] for r in orows])
    assert s_c == o_c, f"seed={seed} sql={sql}"


# ------------------------------------------------- randomized windows
#
# Same seeded-generator approach over the §2.5 window surface
# (ExecuteTest.cpp enumerates these by hand): random partition key,
# a UNIQUE total order (so every rank/lag value is deterministic on
# both engines), and a random window function incl. ROWS-framed
# aggregates. The SQL runs verbatim on Spark and DuckDB.

_WIN_PARTS = ["l_returnflag", "l_linestatus", "l_suppkey"]
_WIN_VALS = ["l_quantity", "l_extendedprice", "l_partkey"]


def generate_window_sql(seed: int) -> str:
    rng = random.Random(10_000 + seed)
    part = rng.choice(_WIN_PARTS)
    val = rng.choice(_WIN_VALS)
    order = "l_extendedprice, l_orderkey, l_linenumber"
    win = f"PARTITION BY {part} ORDER BY {order}"
    kind = rng.choice(
        ["row_number", "rank", "dense_rank", "ntile", "lag", "lead",
         "sum_rows", "min_rows", "count_rows", "cume_dist"]
    )
    if kind in ("row_number", "rank", "dense_rank"):
        expr = f"{kind}() OVER ({win})"
    elif kind == "ntile":
        expr = f"ntile({rng.randint(2, 7)}) OVER ({win})"
    elif kind in ("lag", "lead"):
        expr = f"{kind}({val}, {rng.randint(1, 3)}) OVER ({win})"
    elif kind == "cume_dist":
        expr = f"round(cume_dist() OVER ({win}), 6)"
    else:
        fn = {"sum_rows": "sum", "min_rows": "min", "count_rows": "count"}[kind]
        lo = rng.randint(1, 5)
        frame = f"ROWS BETWEEN {lo} PRECEDING AND CURRENT ROW"
        arg = f"CAST({val} AS DECIMAL(18, 3))" if fn == "sum" else val
        expr = f"{fn}({arg}) OVER ({win} {frame})"
    return (
        f"SELECT l_orderkey, l_linenumber, {expr} AS w "
        f"FROM lineitem WHERE l_orderkey < {rng.randint(300, 900)}"
    )


@pytest.mark.parametrize("seed", range(40))
def test_randomized_windows(engine, ddb, seed):
    sql = generate_window_sql(seed)
    srows = [tuple(r) for r in engine.sql(sql).collect()]
    orows = ddb.sql(sql).fetchall()
    s_c, o_c = canonical(srows), canonical(orows)
    assert len(s_c) == len(o_c), sql
    mism = [p for p in zip(s_c, o_c) if p[0] != p[1]]
    assert not mism, f"{sql}\nfirst mismatches: {mism[:3]}"


# --------------------------------------- randomized set ops / subqueries
#
# §2.7 set-operation surface and the IN/EXISTS/scalar subquery shapes
# (ExecuteTest.cpp Select.Unions / Select.Subqueries families) under the
# same seeded differential scheme.


def generate_setop_sql(seed: int) -> str:
    rng = random.Random(20_000 + seed)
    table = rng.choice(list(TABLES))
    spec = TABLES[table]
    scol, _ = rng.choice(spec["strs"])
    ncol = rng.choice(spec["nums"])
    cols = f"{scol} AS s, CAST(floor({ncol}) AS BIGINT) AS v"
    pa, pb = _predicate(rng, spec), _predicate(rng, spec)
    op = rng.choice(
        ["UNION", "UNION ALL", "INTERSECT", "EXCEPT", "UNION", "INTERSECT"]
    )
    return (
        f"SELECT {cols} FROM {table} WHERE {pa} "
        f"{op} "
        f"SELECT {cols} FROM {table} WHERE {pb}"
    )


@pytest.mark.parametrize("seed", range(20))
def test_randomized_setops(engine, ddb, seed):
    sql = generate_setop_sql(seed)
    srows = [tuple(r) for r in engine.sql(sql).collect()]
    orows = ddb.sql(sql).fetchall()
    s_c, o_c = canonical(srows), canonical(orows)
    assert s_c == o_c, f"seed={seed} sql={sql}"


def generate_subquery_sql(seed: int) -> str:
    rng = random.Random(30_000 + seed)
    kind = rng.choice(["in", "not_in", "exists", "not_exists", "scalar"])
    cpred = _predicate(rng, DIM_TABLES["customer"])
    if kind in ("in", "not_in"):
        neg = "NOT " if kind == "not_in" else ""
        return (
            f"SELECT count(*) AS c, sum(CAST(floor(o_totalprice) AS BIGINT)) AS s "
            f"FROM orders WHERE o_custkey {neg}IN "
            f"(SELECT c_custkey FROM customer WHERE {cpred})"
        )
    if kind in ("exists", "not_exists"):
        neg = "NOT " if kind == "not_exists" else ""
        return (
            f"SELECT count(*) AS c FROM orders o WHERE {neg}EXISTS "
            f"(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey "
            f"AND {cpred})"
        )
    frac = round(rng.uniform(0.5, 1.5), 3)
    return (
        f"SELECT count(*) AS c FROM orders WHERE o_totalprice > "
        f"{frac} * (SELECT avg(o_totalprice) FROM orders)"
    )


@pytest.mark.parametrize("seed", range(20))
def test_randomized_subqueries(engine, ddb, seed):
    sql = generate_subquery_sql(seed)
    srows = [tuple(r) for r in engine.sql(sql).collect()]
    orows = ddb.sql(sql).fetchall()
    s_c, o_c = canonical(srows), canonical(orows)
    assert s_c == o_c, f"seed={seed} sql={sql}"


# --------------------------------------- randomized scalar compositions
#
# §2.8 scalar library under the differential scheme: random nested
# compositions of ANSI functions BOTH engines implement identically,
# evaluated over lineitem rows and compared at 6dp.


def _num_expr(rng: random.Random, depth: int = 0) -> str:
    col = rng.choice(["l_quantity", "l_extendedprice", "l_discount",
                      "l_partkey", "l_linenumber"])
    if depth >= 2 or rng.random() < 0.35:
        return rng.choice([
            col,
            f"abs({col} - {rng.randint(1, 50)})",
            f"mod(CAST(floor({col}) AS BIGINT), {rng.randint(2, 13)})",
            str(rng.randint(1, 9)),
        ])
    inner = _num_expr(rng, depth + 1)
    form = rng.choice([
        # NOT round(x, 3): an exact .xxx5 half rounds differently on
        # Spark (shortest-repr HALF_UP) vs DuckDB (raw double) — the
        # documented oracle hazard; floor(x*1000 + 0.5)*1e-3 is the
        # same HALF_UP evaluated identically on both engines (found by
        # the r8 extended-seed sweep at scalar:390)
        "floor(({i} / {k}) * 1000 + 0.5) * 1e-3",
        "floor({i} / {k})", "ceil({i} / {k})",
        "sqrt(abs({i}))", "ln(abs({i}) + 1)", "power(mod(CAST(floor({i}) AS BIGINT), 5), 2)",
        "least({i}, {k})", "greatest({i}, {k})", "coalesce(nullif({i}, 0), {k})",
        "abs({i}) + {k}", "abs({i}) * 2",
    ])
    return form.format(i=inner, k=rng.randint(1, 7))


def _str_expr(rng: random.Random) -> str:
    col = rng.choice(["l_returnflag", "l_linestatus"])
    return rng.choice([
        f"upper({col})", f"lower({col})", f"substr({col} || 'xyz', 2, 3)",
        f"trim('  ' || {col} || ' ')", f"length({col} || 'ab')",
        f"replace({col}, 'A', 'Z')", f"reverse({col} || 'pq')",
    ])


def generate_scalar_sql(seed: int) -> str:
    rng = random.Random(40_000 + seed)
    exprs = [f"round(CAST({_num_expr(rng)} AS DOUBLE), 6) AS n{i}"
             for i in range(rng.randint(1, 3))]
    exprs += [f"{_str_expr(rng)} AS s{i}" for i in range(rng.randint(0, 2))]
    return (
        f"SELECT l_orderkey, l_linenumber, {', '.join(exprs)} "
        f"FROM lineitem WHERE l_orderkey < {rng.randint(200, 600)}"
    )


@pytest.mark.parametrize("seed", range(20))
def test_randomized_scalar_compositions(engine, ddb, seed):
    sql = generate_scalar_sql(seed)
    srows = [tuple(r) for r in engine.sql(sql).collect()]
    # The engine applies reference int/int division (ArithmeticIR.cpp
    # kDIVIDE — `l_partkey / 3` truncates); mirror the same dialect
    # contract on the oracle side by replaying the identical division
    # rewrite and mapping Spark's DIV to DuckDB's `//` (also
    # trunc-toward-zero). The generated SQL has no '/' inside string
    # literals, so the targeted rewrite is safe on raw text.
    from heavydb_spark import dialect

    ddb_sql = dialect._rewrite_int_division(
        sql, engine._type_resolver(sql)
    ).replace(" DIV ", " // ")
    orows = ddb.sql(ddb_sql).fetchall()
    s_c, o_c = canonical(srows), canonical(orows)
    assert len(s_c) == len(o_c), sql
    mism = [p for p in zip(s_c, o_c) if p[0] != p[1]]
    assert not mism, f"seed={seed} sql={sql}\nfirst: {mism[:2]}"


# ---------------------------------------------------- DDL column defs
#
# The round-5 advisory showed raw-text type rewriting corrupted column
# names that collide with type words and DEFAULT literals containing
# them. Differentially round-trip randomized CREATE TABLE defs: the
# declared HeavyDB types must land as the right Spark types and the
# DEFAULT literals must survive byte-identical.

_DDL_NAMES = ["time", "text", "date_col", "c1", "value", "timestamp_x",
              "integer", "note"]
_DDL_TYPES = [
    ("INTEGER", "int"),
    ("BIGINT", "bigint"),
    ("TEXT", "string"),
    ("TEXT ENCODING DICT(32)", "string"),
    ("DOUBLE", "double"),
    ("DECIMAL(10,2)", "decimal(10,2)"),
    ("TIMESTAMP(0)", "timestamp"),
    ("INT[]", "array<int>"),
    ("TEXT[]", "array<string>"),
]
_DDL_DEFAULTS = ["'TIME TO GO'", "'TEXT ENCODING X'", "'a, b'", None]


@pytest.mark.parametrize("seed", range(25))
def test_randomized_create_table_defs(engine, seed):
    rng = random.Random(seed + 7_000)
    n = rng.randint(1, 5)
    names = rng.sample(_DDL_NAMES, n)
    cols, want = [], {}
    for name in names:
        heavy_t, spark_t = rng.choice(_DDL_TYPES)
        d = None
        if spark_t == "string" and rng.random() < 0.5:
            d = rng.choice(_DDL_DEFAULTS)
        cols.append(f"{name} {heavy_t}" + (f" DEFAULT {d}" if d else ""))
        want[name] = (spark_t, d)
    engine.sql("DROP TABLE IF EXISTS rddl_t")
    try:
        engine.sql(f"CREATE TABLE rddl_t ({', '.join(cols)})")
        got = {
            f.name: f.dataType.simpleString()
            for f in engine.spark.table("rddl_t").schema.fields
        }
        assert got == {k: v[0] for k, v in want.items()}, (cols, got)
        # DEFAULT literals survive: insert a row omitting defaulted cols
        defaulted = [k for k, v in want.items() if v[1]]
        plain = [k for k in want if k not in defaulted]
        if defaulted and plain:
            k = plain[0]
            lit = {
                "int": "1", "bigint": "1", "double": "1.5",
                "decimal(10,2)": "1.50",
                "timestamp": "TIMESTAMP '2024-01-01 00:00:00'",
                "string": "'x'",
                "array<int>": "array(1)", "array<string>": "array('x')",
            }[want[k][0]]
            engine.sql(f"INSERT INTO rddl_t ({k}) VALUES ({lit})")
            row = engine.sql("SELECT * FROM rddl_t").first()
            for dcol in defaulted:
                assert row[dcol] == want[dcol][1].strip("'"), (cols, row)
    finally:
        engine.sql("DROP TABLE IF EXISTS rddl_t")


# ------------------------------------------- ORDER BY null collation
#
# The dialect appends Calcite's default null placement (nulls HIGH) to
# un-annotated ORDER BY items; DuckDB's default is the same, so an
# ORDER-SENSITIVE differential over randomized nullable sort keys
# pins the whole rewrite (multi-item, mixed directions, explicit
# NULLS clauses, expressions).

@pytest.mark.parametrize("seed", range(20))
def test_randomized_order_by_null_collation(engine, ddb, seed):
    rng = random.Random(seed + 50_000)
    rows = []
    for i in range(40):
        a = None if rng.random() < 0.3 else rng.randint(0, 5)
        b = None if rng.random() < 0.3 else round(rng.uniform(0, 3), 2)
        rows.append((i, a, b))
    engine.spark.createDataFrame(
        rows, "id long, a int, b double"
    ).createOrReplaceTempView("rnd_null_sort")
    ddb.sql("DROP TABLE IF EXISTS rnd_null_sort")
    ddb.sql("CREATE TABLE rnd_null_sort (id BIGINT, a INT, b DOUBLE)")
    ddb.executemany(
        "INSERT INTO rnd_null_sort VALUES (?, ?, ?)", rows
    )
    items = []
    for col in rng.sample(["a", "b", "a + coalesce(b, 0)"], rng.randint(1, 3)):
        direction = rng.choice(["", " ASC", " DESC"])
        nulls = rng.choice(["", "", " NULLS FIRST", " NULLS LAST"])
        items.append(f"{col}{direction}{nulls}")
    order = ", ".join(items) + ", id"  # id tiebreak -> total order
    sql = f"SELECT id FROM rnd_null_sort ORDER BY {order}"
    # DuckDB's own default is NULLS LAST on BOTH directions (unlike
    # Calcite's HIGH, which flips on DESC) — so the oracle runs the
    # dialect-REWRITTEN sql, whose every item carries an explicit
    # NULLS clause; the assertion then pins (a) the rewrite emitting
    # Calcite's placement and (b) Spark executing it.
    from heavydb_spark import dialect as _dialect

    rewritten = _dialect.rewrite(sql)
    # every un-annotated item gained a clause: count NULLS >= items
    assert rewritten.upper().count("NULLS") >= len(items) + 1, (
        sql, rewritten,
    )
    got = [r["id"] for r in engine.sql(sql).collect()]
    want = [r[0] for r in ddb.sql(rewritten).fetchall()]
    assert got == want, (sql, rewritten, got[:10], want[:10])
    engine.spark.catalog.dropTempView("rnd_null_sort")
    ddb.sql("DROP TABLE rnd_null_sort")


# ---------------------------------------- grouping analytics (r6)
#
# ROLLUP / CUBE / GROUPING SETS pass through the dialect untouched
# (the reference rejects them — documented strict superset); the
# differential pins Spark's grouping-set expansion, GROUPING() bits,
# and NULL subtotal keys against DuckDB across randomized shapes.

def generate_grouping_sql(seed: int) -> str:
    rng = random.Random(seed + 60_000)
    dims = rng.sample(
        ["l_returnflag", "l_linestatus", "(l_linenumber % 3)"],
        rng.randint(2, 3),
    )
    form = rng.choice(["ROLLUP", "CUBE", "SETS"])
    if form == "SETS":
        import itertools

        subsets = [
            "(" + ", ".join(c) + ")"
            for r in range(len(dims) + 1)
            for c in itertools.combinations(dims, r)
        ]
        chosen = rng.sample(subsets, rng.randint(2, len(subsets)))
        # every dim must appear in >=1 chosen set, or the GROUPING(d)
        # projections below are invalid on BOTH engines
        # (GROUPING_COLUMN_MISMATCH — r8 extended-seed sweep). Adding
        # the full tuple only when needed keeps every already-valid
        # historical seed byte-identical.
        if any(all(d not in c for c in chosen) for d in dims):
            chosen.append("(" + ", ".join(dims) + ")")
        grouping = f"GROUPING SETS ({', '.join(chosen)})"
    else:
        grouping = f"{form}({', '.join(dims)})"
    g_cols = ", ".join(
        f"CAST(grouping({d}) AS INT) AS g{i}" for i, d in enumerate(dims)
    )
    dim_cols = ", ".join(
        f"{d} AS d{i}" for i, d in enumerate(dims)
    )
    return (
        f"SELECT {dim_cols}, {g_cols}, "
        f"CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS s, "
        f"count(*) AS n "
        f"FROM lineitem WHERE l_orderkey < {rng.randint(300, 900)} "
        f"GROUP BY {grouping}"
    )


@pytest.mark.parametrize("seed", range(12))
def test_randomized_grouping_analytics(engine, ddb, seed):
    sql = generate_grouping_sql(seed)
    srows = [tuple(r) for r in engine.sql(sql).collect()]
    orows = ddb.sql(sql).fetchall()
    s_c, o_c = canonical(srows), canonical(orows)
    assert len(s_c) == len(o_c), sql
    mism = [p for p in zip(s_c, o_c) if p[0] != p[1]]
    assert not mism, f"seed={seed} sql={sql}\nfirst: {mism[:2]}"


# ---------------------------------------------------------------------------
# Randomized corpora vs the pipeline-operator oracles.
#
# The catalog checks the text/dedup operators against ONE fixture corpus;
# these seeds generate adversarial corpora (planted shared runs and exact
# duplicates from a tiny vocabulary, empty/whitespace-only docs, irregular
# whitespace) and replay the SAME oracle SQL the driver uses over a DuckDB
# view of the identical rows — so the cross-engine contract holds on data
# shaped to maximize collisions, not just on the fixture.
# ---------------------------------------------------------------------------

def _random_corpus(rng: random.Random, n_docs: int = 40):
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for doc_id in range(n_docs):
        roll = rng.random()
        if roll < 0.05:
            text = rng.choice(["", " ", "   "])
        elif roll < 0.25 and docs:
            # quote a slice of an earlier doc (shared runs / containment)
            src = rng.choice(docs)[1].split()
            if len(src) >= 10:
                a = rng.randrange(0, len(src) - 9)
                quoted = src[a : a + rng.randrange(8, min(20, len(src) - a) + 1)]
                pre = [rng.choice(vocab) for _ in range(rng.randrange(0, 5))]
                post = [rng.choice(vocab) for _ in range(rng.randrange(0, 5))]
                text = " ".join(pre + quoted + post)
            else:
                text = " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 30)))
        elif roll < 0.30 and docs:
            text = docs[rng.randrange(len(docs))][1]     # exact duplicate
        else:
            sep = "  " if rng.random() < 0.1 else " "
            text = sep.join(rng.choice(vocab) for _ in range(rng.randrange(1, 40)))
        docs.append((doc_id, text, f"s{rng.randrange(4)}", len(text)))
    return docs


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_randomized_corpus_operator_oracles(spark, seed):
    import duckdb
    import pandas as pd

    from heavydb_spark.operators.dedup import shared_run_pairs
    from heavydb_spark.operators.text import (
        lm_perplexity_score,
        quality_classifier_score,
    )
    from heavydb_spark.queries import ORACLES

    from heavydb_spark.operators.dedup import (
        group_shingle_overlap,
        remove_duplicate_spans,
    )
    from heavydb_spark.operators.text import (
        bpe_pair_counts,
        ngram_vocab,
        tfidf_top_terms,
    )

    rng = random.Random(seed)
    rows = _random_corpus(rng)
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "source", "n_chars"]),
    )

    import pyspark.sql.functions as F

    cases = {
        "dedup_shared_run": shared_run_pairs(
            df, "doc_id", "text", window=8
        ).orderBy("doc_a", "doc_b"),
        "text_quality_classifier": quality_classifier_score(df).orderBy(
            "doc_id"
        ),
        "text_lm_perplexity": lm_perplexity_score(df).orderBy("doc_id"),
        # late-r6 corpus ops, same differential treatment: the random
        # corpus plants exact copies, quoted runs, and whitespace
        # edges, which exercise the span rewrite's keeper rule and the
        # overlap matrix's shared-shingle sets far harder than the
        # uniform fixture
        "dedup_span_rewrite": remove_duplicate_spans(
            df, "doc_id", "text", window=8
        ).orderBy("doc_id"),
        "text_ngram_vocab": ngram_vocab(df, "doc_id", "text", 2, 25),
        "text_tfidf_topterms": tfidf_top_terms(df, "doc_id", "text", 3)
        .filter(F.col("doc_id") < 100)
        .orderBy("doc_id", "term_rank"),
        "text_bpe_first_merge": bpe_pair_counts(df, "text", top_k=5),
        "pipe_source_overlap": group_shingle_overlap(
            df, "source", "text", n=3
        ).orderBy("group_a", "group_b"),
    }
    for name, sdf in cases.items():
        ores = con.sql(ORACLES[name])
        ocols = [c.lower() for c in ores.columns]
        scols = [c.lower() for c in sdf.columns]
        assert sorted(scols) == sorted(ocols), name
        sidx = [scols.index(c) for c in sorted(scols)]
        oidx = [ocols.index(c) for c in sorted(ocols)]
        s_c = canonical([[r[i] for i in sidx] for r in sdf.collect()])
        o_c = canonical([[r[i] for i in oidx] for r in ores.fetchall()])
        assert s_c == o_c, f"{name} seed={seed}: first diff " + str(
            next((p for p in zip(s_c, o_c) if p[0] != p[1]), None)
        )


@pytest.mark.parametrize("seed", [11, 22, 33])
def test_randomized_mixing_and_sharding_vs_reference(spark, seed):
    """mix_temperature and shard_assign vs an independent pure-Python
    reimplementation of the portable hash + rate/rank math, on random
    id spaces and skewed source distributions (the DuckDB-oracle
    catalog queries pin the fixture shape; this pins the math itself
    on arbitrary inputs)."""
    from heavydb_spark.operators.pipeline import (
        mix_temperature,
        shard_assign,
    )

    M31, A = 2_147_483_647, 48_271

    def ph(i):
        r = i % M31
        r = (r * A + 11) % M31
        return (r * A) % M31

    rng = random.Random(seed)
    ids = rng.sample(range(1, 10_000_000), 500)
    srcs = ["a", "b", "c", "d"]
    weights = [1, 3, 10, 36]
    rows = [
        (i, rng.choices(srcs, weights=weights)[0]) for i in ids
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    # --- shard_assign ---
    got = {
        (r.doc_id, r.shard, r.pos)
        for r in shard_assign(df, "doc_id", n_shards=5).collect()
    }
    by_shard = {}
    for i, _s in rows:
        by_shard.setdefault(ph(i) % 5, []).append(i)
    want = set()
    for shard, members in by_shard.items():
        for pos, i in enumerate(sorted(members, key=lambda x: (ph(x), x))):
            want.add((i, shard, pos))
    assert got == want

    # --- mix_temperature ---
    alpha, tf = 0.5, 0.6
    counts = {}
    for _i, s in rows:
        counts[s] = counts.get(s, 0) + 1
    n_total = sum(counts.values())
    z = sum(n ** alpha for n in counts.values())
    target = int(n_total * tf + 0.5)
    cut = {
        s: int(
            round(min(1.0, (n ** alpha) / z * target / n), 6) * M31
        )
        for s, n in counts.items()
    }
    want_kept = {
        (i, s) for i, s in rows if ph(i) < cut[s]
    }
    got_kept = {
        (r.doc_id, r.source)
        for r in mix_temperature(
            df, "source", "doc_id", alpha=alpha, target_fraction=tf
        ).collect()
    }
    assert got_kept == want_kept


# ------------------------------- r7-fix-family generators (r7 verdict #5)
#
# The three dialect bug classes the r7 review caught BY HAND, now under
# seeded generators so the next regression in any of them is caught by
# machine: (A) shorthand window frames on LAG_IN_FRAME/LEAD_IN_FRAME,
# (B) ARRAY constructors wrapping subscripted elements (incl. the outer
# subscript of such a constructor — the r8 fixpoint fix; the r7-shaped
# single constructor->index->constructor pipeline returned a silent
# 0-based [i] for ARRAY[ARRAY[1,2][1], 7][1]), (C) quoted-arg rewrites
# that must NOT fire inside string literals. Each generated engine
# statement pairs with a DuckDB-oracle statement expressing the same
# semantics in ANSI SQL.


def generate_shorthand_frame_pair(seed: int) -> tuple[str, str]:
    """Engine SQL uses LAG_IN_FRAME/LEAD_IN_FRAME with a SHORTHAND
    frame (`ROWS f PRECEDING` / `CURRENT ROW` — the r7 parser
    extension); the oracle spells the in-frame semantics with ANSI
    lag()/NULL. Frame `ROWS f PRECEDING` covers [cur-f, cur], so
    LAG_IN_FRAME(x, n) is lag(x, n) iff n <= f; LEAD_IN_FRAME(x, n>=1)
    is never in that frame; the CURRENT ROW frame holds only the
    current row, so neither offset (n >= 1) is in frame."""
    rng = random.Random(90_000 + seed)
    n = rng.randint(1, 4)
    fn = rng.choice(["LAG_IN_FRAME", "LEAD_IN_FRAME"])
    frame = rng.choice([f"ROWS {rng.randint(0, 5)} PRECEDING",
                        "ROWS CURRENT ROW"])
    limit = rng.randint(300, 900)
    order = "ORDER BY o_orderkey"
    engine_sql = (
        f"SELECT o_orderkey, {fn}(o_custkey, {n}) OVER "
        f"({order} {frame}) AS w FROM orders "
        f"WHERE o_orderkey < {limit}"
    )
    if fn == "LAG_IN_FRAME" and frame.startswith("ROWS ") \
            and frame.endswith("PRECEDING"):
        f_rows = int(frame.split()[1])
        in_frame = "TRUE" if n <= f_rows else "FALSE"
    else:  # LEAD never in a trailing frame; CURRENT ROW holds no offset
        in_frame = "FALSE"
    oracle_sql = (
        f"SELECT o_orderkey, CASE WHEN {in_frame} THEN "
        f"lag(o_custkey, {n}) OVER ({order}) END AS w FROM orders "
        f"WHERE o_orderkey < {limit}"
    )
    return engine_sql, oracle_sql


@pytest.mark.parametrize("seed", range(15))
def test_randomized_shorthand_window_frames(engine, ddb, seed):
    engine_sql, oracle_sql = generate_shorthand_frame_pair(seed)
    srows = [tuple(r) for r in engine.sql(engine_sql).collect()]
    orows = ddb.sql(oracle_sql).fetchall()
    assert canonical(srows) == canonical(orows), (engine_sql, oracle_sql)


def _array_expr(rng: random.Random, depth: int) -> tuple[str, int]:
    """Random ARRAY[...] constructor tree over int literals where any
    element (and the constructor itself) may carry a 1-based subscript;
    returns (sql_expr, value). Subscripted elements are scalars;
    unsubscripted nesting stays depth-bounded."""
    if depth == 0 or rng.random() < 0.5:
        v = rng.randint(1, 99)
        return str(v), v
    k = rng.randint(1, 3)
    elems, vals = [], []
    for _ in range(k):
        e, v = _array_expr(rng, depth - 1)
        elems.append(e)
        vals.append(v)
    expr = f"ARRAY[{', '.join(elems)}]"
    i = rng.randint(1, k)
    return f"{expr}[{i}]", vals[i - 1]


@pytest.mark.parametrize("seed", range(15))
def test_randomized_array_constructor_subscripts(engine, ddb, seed):
    """Family B: the same text runs on the engine (dialect fixpoint
    rewrite to array()/element_at) and on DuckDB (native ARRAY[...]
    with 1-based subscripts); both must equal the Python-computed
    value. Seeds with an outer subscript on a subscript-bearing
    constructor FAIL on the pre-r8 dialect.py (raw 0-based [i])."""
    rng = random.Random(91_000 + seed)
    expr, expected = _array_expr(rng, 3)
    if "[" not in expr:  # degenerate scalar draw — force one wrap
        expr, expected = f"ARRAY[{expr}, {expected}][1]", expected
    sql = f"SELECT {expr} AS e"
    got = engine.sql(sql).first()["e"]
    assert got == expected, (sql, got, expected)
    assert ddb.sql(sql).fetchall()[0][0] == expected, sql


@pytest.mark.parametrize("seed", range(15))
def test_randomized_quoted_arg_rewrites_skip_literals(engine, seed):
    """Family C: string literals containing quoted-arg-rewrite bait
    (DATEPART('...', TIME 'hh:mm:ss', CAST(x AS TIME)) pass through
    BYTE-IDENTICAL while a genuine DATEPART call in the same statement
    still rewrites (expected value computed in Python)."""
    rng = random.Random(92_000 + seed)
    bait = rng.choice([
        "use DATEPART(''year'', d) here",
        "set TIME 12:30:00 now",
        "try CAST(x AS TIME) maybe",
        "DATEPART(''day'' and TIME 09:15:00 both",
    ])
    y, m, d = rng.randint(1992, 1998), rng.randint(1, 12), rng.randint(1, 28)
    part = rng.choice(["year", "month", "day"])
    expected_part = {"year": y, "month": m, "day": d}[part]
    row = engine.sql(
        f"SELECT '{bait}' AS t, "
        f"DATEPART('{part}', DATE '{y}-{m:02d}-{d:02d}') AS p"
    ).first()
    assert row["t"] == bait.replace("''", "'"), (bait, row["t"])
    assert row["p"] == expected_part


# ------------------------- r12 DML cell-coercion family (r11 verdict item 3)
# All five reference-test comparators missed the r11 DML coercion
# defects because the reference's own DML tests spell datetimes in ISO.
# This family drives INSERT ... VALUES cells and UPDATE ... SET
# assignments through the cast-coercion corpus (non-ISO datetimes,
# quoted booleans, numeric strings, fractionals, brace arrays) and
# checks post-image VALUES and SCHEMA CLASS against a Python model —
# the importer-parity contract (ImportExport/Importer.cpp parses each
# cell against the column's SQLTypeInfo; StorageIOFacility.h:105 casts
# each update value to the column type).

import datetime as _dt

_DML_COERCE_TYPES = [
    # (heavy DDL type, spark simpleString, [(cell_sql, expected_py)])
    ("DATE", "date", [
        ("'10/09/99'", _dt.date(1999, 10, 9)),
        ("'31/Oct/2013'", _dt.date(2013, 10, 31)),
        ("'1999-10-09'", _dt.date(1999, 10, 9)),
        ("NULL", None),
    ]),
    ("TIMESTAMP", "timestamp", [
        # timestamps are compared via CAST(.. AS STRING) under UTC
        ("'21-JUN-15 2.15.16 PM'", "2015-06-21 14:15:16"),
        ("'2015-06-21 14:15:16'", "2015-06-21 14:15:16"),
        ("'1434896116'", "2015-06-21 14:15:16"),  # unix-epoch string
        ("NULL", None),
    ]),
    ("INT", "int", [
        ("2.7", 3), ("'2.7'", 3), ("-2.5", -3),  # round half away
        ("'11'", 11), ("7", 7), ("NULL", None),
    ]),
    ("BIGINT", "bigint", [
        ("'-3.5'", -4), ("123456789012", 123456789012),
        ("2.4", 2), ("NULL", None),
    ]),
    ("DOUBLE", "double", [
        ("'2.5'", 2.5), ("7", 7.0), ("-0.125", -0.125), ("NULL", None),
    ]),
    ("TEXT", "string", [
        ("'foo'", "foo"), ("'it''s'", "it's"), ("NULL", None),
    ]),
    ("BOOLEAN", "boolean", [
        ("'t'", True), ("'false'", False), ("TRUE", True),
        ("'1'", True), ("NULL", None),
    ]),
    ("INT[]", "array<int>", [
        ("{1,2,3}", [1, 2, 3]), ("{7}", [7]), ("NULL", None),
    ]),
    # declared-TIME columns store seconds-of-day ints (r12 registry)
    ("TIME", "int", [
        ("'15:13:14'", 54794), ("'04:05:06'", 14706), ("NULL", None),
    ]),
]


def run_dml_coercion_case(engine, seed: int) -> list[str]:
    """One randomized DDL+INSERT+UPDATE round trip; returns mismatch
    descriptions (empty == green). Also called by scripts/seed_sweep.py,
    a seed-sweep script removed after commit e45d69f."""
    rng = random.Random(2_120_000 + seed)
    spark = engine.spark
    n_cols = rng.randint(2, 5)
    chosen = rng.sample(_DML_COERCE_TYPES, k=n_cols)
    tbl = f"dml_coerce_{seed}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # some columns carry a DEFAULT drawn from the coercion corpus
    # (r12: string defaults on typed columns parse with importer
    # semantics); rows inserted as (k) only take the defaults
    defaults: dict[int, object] = {}
    col_defs = []
    for i, t in enumerate(chosen):
        d = ""
        if t[0] != "INT[]" and rng.random() < 0.3:
            cell = rng.choice([c for c in t[2] if c[0] != "NULL"])
            d = f" DEFAULT {cell[0]}"
            defaults[i] = cell[1]
        col_defs.append(f"c{i} {t[0]}{d}")
    engine.sql(f"CREATE TABLE {tbl} (k INT, {', '.join(col_defs)})")
    mismatches: list[str] = []
    try:
        model: dict[int, list] = {}
        n_rows = rng.randint(1, 3)
        if defaults:
            # one defaults-only row: INSERT (k) VALUES takes every
            # column's DEFAULT (NULL where none declared)
            r = n_rows
            engine.sql(f"INSERT INTO {tbl} (k) VALUES ({r})")
            model[r] = [defaults.get(i) for i in range(n_cols)]
        for r in range(n_rows):
            cells = [rng.choice(t[2]) for t in chosen]
            if rng.random() < 0.3:
                # INSERT ... SELECT form: the r12 ITAS coercion path
                # (aliased literal projection — the source-column case
                # is pinned in tests/test_dml.py)
                proj = ", ".join(
                    [f"{r} AS k"]
                    + [f"{c[0]} AS c{i}" for i, c in enumerate(cells)]
                )
                engine.sql(f"INSERT INTO {tbl} SELECT {proj}")
            else:
                engine.sql(
                    f"INSERT INTO {tbl} VALUES ({r}, "
                    + ", ".join(c[0] for c in cells) + ")"
                )
            model[r] = [c[1] for c in cells]
        for _ in range(rng.randint(1, 3)):
            r = rng.randrange(n_rows)
            idxs = rng.sample(range(n_cols), k=rng.randint(1, min(2, n_cols)))
            sets, newvals = [], {}
            for i in idxs:
                cell = rng.choice(chosen[i][2])
                sets.append(f"c{i} = {cell[0]}")
                newvals[i] = cell[1]
            engine.sql(f"UPDATE {tbl} SET {', '.join(sets)} WHERE k = {r}")
            for i, v in newvals.items():
                model[r][i] = v
        # schema-class stability: the defect signature was a DATE
        # column mutating to STRING in the post-image
        sch = {f.name: f.dataType.simpleString()
               for f in spark.table(tbl).schema.fields}
        for i, t in enumerate(chosen):
            if sch[f"c{i}"] != t[1]:
                mismatches.append(
                    f"schema c{i}: {sch[f'c{i}']} != {t[1]}")
        proj = ["k"] + [
            f"CAST(c{i} AS STRING) AS c{i}" if t[1] == "timestamp"
            else f"c{i}"
            for i, t in enumerate(chosen)]
        got = {
            row["k"]: [row[f"c{i}"] for i in range(n_cols)]
            for row in engine.sql(
                f"SELECT {', '.join(proj)} FROM {tbl}").collect()
        }
        for r, vals in model.items():
            if got.get(r) != vals:
                mismatches.append(f"row {r}: {got.get(r)} != {vals}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return mismatches


@pytest.mark.parametrize("seed", range(12))
def test_randomized_dml_cell_coercion(engine, seed):
    bad = run_dml_coercion_case(engine, seed)
    assert not bad, bad
