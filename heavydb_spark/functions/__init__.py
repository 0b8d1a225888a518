"""Scalar function surface (SURVEY.md §2.8).

Nearly all of the reference's string/datetime/math library maps 1:1 onto
`pyspark.sql.functions` and stays JVM-side (whole-stage codegen). This
package holds only the genuine gaps, each registered as a SQL function so
both the DataFrame API and `engine.sql` can reach it.

Each family module (`strings`, `arrays`, `geos`, `geo`, `render`, `h3`)
declares its functions in one table, `FUNCTIONS`: name -> the `CREATE
TEMPORARY FUNCTION` text, or the Python UDF to register under that name.
`register_all` registers the union, like the reference's extension-
function whitelist loaded once at server start
(ExtensionFunctionsWhitelist.cpp).
"""

from __future__ import annotations

import os
import re
import threading
import weakref
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from heavydb_spark.functions import arrays, geo, geos, h3, render, strings


def _union(*families) -> dict:
    table: dict = {}
    for family in families:
        for name, fn in family.FUNCTIONS.items():
            if name in table:
                raise ValueError(f"function {name} declared twice")
            table[name] = fn
    return table


FUNCTIONS = _union(strings, arrays, geos, geo, render, h3)

# A SQL body is analysed at CREATE time, so every declared function it
# calls must be registered first. The calls are read off the body: a
# name followed by `(`, outside string literals. A called name that is
# neither declared, a Spark builtin (`pyspark.sql.functions` has one
# of each) nor a keyword would fail later as UNRESOLVED_ROUTINE.
_BODY = re.compile(r"\bRETURN\b", re.IGNORECASE)
_LITERAL = re.compile(r"'(?:[^'\\]|\\.)*'")
_CALL = re.compile(r"\b([A-Za-z_]\w*)\s*\(")
_KEYWORDS = frozenset("and or not in case when then else cast".split())


def _dependencies(table: dict) -> dict[str, set[str]]:
    """Declared name -> the declared names its body calls. Raises on a
    call to an undeclared name and on a cycle."""
    deps = {}
    for name, fn in table.items():
        if not isinstance(fn, str):
            deps[name] = set()
            continue
        body = _LITERAL.sub("''", _BODY.split(fn, 1)[-1])
        calls = {c.lower() for c in _CALL.findall(body)} - _KEYWORDS
        unknown = sorted(c for c in calls - table.keys() if not hasattr(F, c))
        if unknown:
            raise ValueError(f"{name} calls undeclared {', '.join(unknown)}")
        deps[name] = calls & table.keys()
    left, done = dict(deps), set()
    while left:
        ready = [n for n, d in left.items() if d <= done]
        if not ready:
            raise ValueError(f"declaration cycle among {', '.join(sorted(left))}")
        done.update(ready)
        for n in ready:
            del left[n]
    return deps


def _register_one(spark: SparkSession, name: str, fn) -> None:
    if isinstance(fn, str):
        spark.sql(fn)
    else:
        spark.udf.register(name, fn)


def _register(spark: SparkSession, table: dict) -> None:
    """Register `table` on a pool of at most four threads, each function
    once every function it calls has been. Spark parses and analyses
    each body in the JVM, so the statements run in parallel there. A
    failure stops further submissions; the first one raises once the
    running statements have drained."""
    deps = _dependencies(table)
    waiting = {name: set(d) for name, d in deps.items()}
    callers: dict[str, list[str]] = {name: [] for name in deps}
    for name, d in deps.items():
        for callee in d:
            callers[callee].append(name)

    def chain(name):  # the longest run of callers waiting on `name`
        return 1 + max(map(chain, callers[name]), default=0)

    failed = None
    workers = min(4, os.cpu_count() or 1)
    with ThreadPoolExecutor(workers, thread_name_prefix="register_all") as pool:
        def submit(name):
            return pool.submit(_register_one, spark, name, table[name])

        roots = sorted((n for n, d in waiting.items() if not d),
                       key=chain, reverse=True)
        running = {submit(n): n for n in roots}
        while running:
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                name = running.pop(fut)
                exc = fut.exception()
                if exc is not None and failed is None:
                    failed = name, exc
                if failed is not None:
                    continue
                for caller in callers[name]:
                    waiting[caller].discard(name)
                    if not waiting[caller]:
                        running[submit(caller)] = caller
    if failed is not None:
        name, exc = failed
        raise RuntimeError(f"registering function {name} failed: {exc}") from exc


# Idempotent but not free: a cold registration (first in the JVM) on a
# 4-core VM, local[2] with the quick JIT only, takes 6-8 s on the pool
# against 12-17 s one statement at a time, most of it the parser's and
# analyzer's first use; 1.1-1.6 s warm. Every Engine() construction
# calls register_all, so it is memoized per live session; the lock
# makes concurrent first callers register once. Weak-keyed so stopped
# sessions stay garbage-collectable (id() reuse is a non-issue: the
# entry dies with the session).
_REGISTERED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
_LOCK = threading.Lock()


def register_all(spark: SparkSession) -> None:
    with _LOCK:
        try:
            if spark in _REGISTERED:
                return
        except TypeError:  # not weak-referenceable: register every time
            pass
        _register(spark, FUNCTIONS)
        try:
            _REGISTERED.add(spark)
        except TypeError:
            pass


def _call(name: str, *args) -> Column:
    """Call a function `register_all` registers, so its arguments are
    bound once and its body stays codegen'd. The Column builders of the
    H3 and transform families all build through here. Registers on
    `SparkSession.active()` first (memoized per session); a Column used
    on another session needs `register_all(that_session)`, which
    `Engine(session)` already does. Spark cannot pass a lambda variable
    to a SQL function, so these Columns do not resolve inside a
    higher-order function's lambda (`F.transform` over a ring): apply
    them to a column, e.g. after an explode."""
    register_all(SparkSession.active())
    return F.call_function(name, *args)


def single_value(col):
    """SINGLE_VALUE aggregate (sqldefs.h:85): the group's value, erroring
    if the group holds more than one distinct value — the runtime check
    the reference's planner inserts under scalar subqueries. JVM-side:
    raise_error fires inside codegen, no UDF."""
    return F.when(
        F.count_distinct(col) > 1,
        F.raise_error(F.lit("more than one row returned by SINGLE_VALUE")),
    ).otherwise(F.first(col, ignorenulls=True))


from heavydb_spark.functions.udaf import geometric_mean  # noqa: F401,E402
