"""Repository hygiene: no unreachable definitions, no stale doc paths,
no bloated SQL function bodies, no Column builder whose plan multiplies
when composed.

The first two checks read source text only (stdlib `ast` + `tokenize`).
The body-size check records the text `register_all` would send to Spark;
it takes the `spark` fixture only because pandas-UDF return types parse
against an active session. The plan-size check measures the optimized
plan Spark builds for each composed builder.
"""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Where a reference to a heavydb_spark definition may live.
SEARCH = ("heavydb_spark", "tests", "perfbench", "__spark_entry__.py")
LIVE_DOCS = ("README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# Longest CREATE FUNCTION text register_all may issue. Spark parses and
# analyses a body at CREATE time and again inside every caller, so a
# body unrolled per argument value or re-inlined at each use costs
# seconds of set-up per function.
MAX_FUNCTION_TEXT = 8_000
_FUNCTION_NAME = re.compile(r"FUNCTION\s+(\w+)")
# Longest optimized-plan text an H3 or transform Column builder may
# produce when composed with itself once. A builder that calls a
# registered SQL function binds its input once (under 12,000
# characters each); one that re-inlines its input at every use
# multiplies the plan (from about 18,500 characters for the longitude
# of an H3 cell to 7.9 million for a UTM round trip).
MAX_PLAN_TEXT = 15_000
_COMPOSED = ("h3_cell_to_parent", "h3_cell_to_lon", "utm_to_wgs84",
             "tm_to_wgs84_full-27700", "tm_to_wgs84_full-23031",
             "st_transform")


def _py_files(rel: str) -> list[str]:
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _definitions(path: str) -> list[tuple[str, int]]:
    """Top-level functions and classes, plus every method of every class."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    defs = ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef
    nodes = [n for n in tree.body if isinstance(n, defs)]
    for cls in ast.walk(tree):
        if isinstance(cls, ast.ClassDef):
            nodes += [n for n in cls.body
                      if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    return [(n.name, n.lineno) for n in nodes
            if not (n.name.startswith("__") and n.name.endswith("__"))]


def _docstring_starts(source: str) -> set[tuple[int, int]]:
    scopes = ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef
    return {
        (node.body[0].lineno, node.body[0].col_offset)
        for node in ast.walk(ast.parse(source))
        if isinstance(node, scopes) and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }


def _references() -> tuple[set[str], set[str]]:
    """Code-name tokens (minus the names that `def`/`class` introduce) and
    the lower-cased words of every string literal. Comments and docstrings
    are prose: they may name a reference-engine function of the same name."""
    names: set[str] = set()
    words: set[str] = set()
    for rel in SEARCH:
        for path in _py_files(rel):
            with open(path, encoding="utf-8") as f:
                source = f.read()
            docstrings = _docstring_starts(source)
            prev = None
            for tok in tokenize.generate_tokens(io.StringIO(source).readline):
                if tok.type == tokenize.NAME and prev not in ("def", "class"):
                    names.add(tok.string)
                elif tok.type == tokenize.STRING and tok.start not in docstrings:
                    words.update(w.lower() for w in _WORD.findall(tok.string))
                if tok.type not in (tokenize.COMMENT, tokenize.NL):
                    prev = tok.string
    return names, words


def test_no_unreachable_definitions():
    names, words = _references()
    dead = [
        f"{os.path.relpath(path, ROOT)}:{line} {name}"
        for path in _py_files("heavydb_spark")
        for name, line in _definitions(path)
        if name not in names and name.lower() not in words
    ]
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)


def test_live_doc_paths_exist():
    """Every repo path written in backticks in the live docs must exist."""
    missing = []
    for doc in LIVE_DOCS:
        with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
            text = f.read()
        spans = re.findall(r"```[^\n]*\n(.*?)```", text, re.S)
        spans += re.findall(r"`([^`\n]+)`", re.sub(r"```.*?```", "", text, flags=re.S))
        for span in spans:
            for token in span.split():
                path = token.strip("()[],;:'\"")
                if not _looks_like_repo_path(path):
                    continue
                if not os.path.exists(os.path.join(ROOT, path)):
                    missing.append(f"{doc}: {path}")
    assert not missing, "stale paths in docs:\n" + "\n".join(missing)


def _looks_like_repo_path(token: str) -> bool:
    if not re.match(r"[A-Za-z_]", token) or token.startswith("http"):
        return False
    if "/" in token:
        return bool(re.fullmatch(r"[\w.\-/]+", token))
    return bool(re.fullmatch(r"[\w\-]+\.(py|md|json|toml|cfg|txt)", token))


def _package_trees() -> list[tuple[str, ast.Module]]:
    out = []
    for path in _py_files("heavydb_spark"):
        with open(path, encoding="utf-8") as f:
            out.append((os.path.relpath(path, ROOT), ast.parse(f.read(), path)))
    return out


@pytest.mark.parametrize("attr", ["_swap_tables", "insertInto"])
def test_one_write_path(attr):
    """Every table rewrite stages and swaps inside Engine._replace, and
    every append writes inside Engine._append; a second call site is a
    second copy of the write path, with its own temp-view test and
    cache-invalidation order."""
    calls = [
        f"{rel}:{n.lineno}"
        for rel, tree in _package_trees()
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]
    assert len(calls) == 1, f"{attr} called at {calls}"


def test_temp_view_test_asks_the_session_catalog():
    """Listing the catalog builds a descriptor per table (hundreds of
    ms with a dozen views) and compares names by exact case, unlike
    Spark's own resolution."""
    trees = _package_trees()
    (fn,) = [n for _, tree in trees for n in ast.walk(tree)
             if isinstance(n, ast.FunctionDef) and n.name == "_is_temp_view"]
    attrs = {n.attr for n in ast.walk(fn) if isinstance(n, ast.Attribute)}
    assert "isTempView" in attrs and "listTables" not in attrs
    exact = [
        f"{rel}:{n.lineno}"
        for rel, tree in trees
        for n in ast.walk(tree)
        if isinstance(n, ast.Compare)
        and any(isinstance(o, ast.Eq) for o in n.ops)
        and any(isinstance(c, ast.Constant) and c.value == "TEMPORARY"
                for c in n.comparators)
    ]
    assert not exact, f"listing-based temp-view tests at {exact}"


def test_registered_function_bodies_stay_small(spark):
    from heavydb_spark.functions import FUNCTIONS, register_all

    texts: list[str] = []
    udfs: list[str] = []
    register_all(SimpleNamespace(
        sql=texts.append,
        udf=SimpleNamespace(register=lambda name, f: udfs.append(name))))
    declared = [t for t in FUNCTIONS.values() if isinstance(t, str)]
    assert sorted(texts) == sorted(declared)
    assert len(udfs) == len(FUNCTIONS) - len(declared)
    big = [
        f"{_FUNCTION_NAME.search(t).group(1)}: {len(t)} characters"
        for t in texts if len(t) > MAX_FUNCTION_TEXT
    ]
    assert texts and not big, "function bodies too long:\n" + "\n".join(big)


# The modules that declare SQL functions, and the one that registers them.
_FAMILIES = tuple(os.path.join("heavydb_spark", "functions", f"{m}.py")
                  for m in ("strings", "arrays", "geos", "geo", "render", "h3"))
_REGISTRAR = os.path.join("heavydb_spark", "functions", "__init__.py")
_CREATE_FUNCTION = re.compile(
    r"CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?FUNCTION", re.I)


def test_functions_register_from_one_table():
    """SQL function texts live in the family modules' declaration
    tables and reach Spark only through `register_all`: a second
    registration path orders itself by call sequence again, which the
    table's derived dependencies replace."""
    stray = []
    for path in _py_files("heavydb_spark"):
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            source = f.read()
        docs = _docstring_starts(source)
        for n in ast.walk(ast.parse(source, path)):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and (n.lineno, n.col_offset) not in docs
                    and rel not in _FAMILIES
                    and _CREATE_FUNCTION.search(n.value)):
                stray.append(f"{rel}:{n.lineno} CREATE FUNCTION text")
            elif (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and rel != _REGISTRAR
                    and (n.func.attr == "register"
                         and isinstance(n.func.value, ast.Attribute)
                         and n.func.value.attr == "udf"
                         or n.func.attr == "sql" and rel in _FAMILIES)):
                stray.append(f"{rel}:{n.lineno} .{n.func.attr}() call")
            elif (isinstance(n, ast.FunctionDef)
                    and re.fullmatch(r"register_\w+_functions", n.name)):
                stray.append(f"{rel}:{n.lineno} {n.name}")
    assert not stray, "registration outside register_all:\n" + "\n".join(stray)


def _composed(name: str):
    """Builder `name` applied to its own output, over columns lon, lat."""
    from pyspark.sql import functions as F

    from heavydb_spark.functions import geo, h3

    lon, lat = F.col("lon"), F.col("lat")
    if name.startswith("h3_"):
        cell = h3.h3_lonlat_to_cell(lon, lat, 9)
        if name == "h3_cell_to_parent":
            return h3.h3_cell_to_parent(cell, 4)
        return h3.h3_cell_to_lon(cell)
    if name == "st_transform":
        p = geo.st_transform(F.struct(lon.alias("x"), lat.alias("y")),
                             4326, 32633)
        return geo.st_transform(p, 32633, 32634)
    if name == "utm_to_wgs84":
        p = geo.utm_from_wgs84(lon, lat, 33)
        return geo.utm_to_wgs84(p["x"], p["y"], 33)
    srid = int(name.rsplit("-", 1)[1])
    p = geo.tm_from_wgs84_full(lon, lat, srid)
    return geo.tm_to_wgs84_full(p["x"], p["y"], srid)


@pytest.mark.parametrize("name", _COMPOSED)
def test_composed_builder_plans_stay_small(spark, name):
    """The 27700 input is the datum round trip: inlining its inputs at
    every reference of the inverse series once built about 5.2 million
    characters, which took over a minute to plan for one row."""
    df = spark.createDataFrame([(9.5, 47.0)], "lon double, lat double")
    plan = df.select(_composed(name))._jdf.queryExecution().optimizedPlan()
    size = len(plan.toString())
    assert size <= MAX_PLAN_TEXT, f"{name}: {size} characters"
