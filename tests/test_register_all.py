"""`register_all`: one declaration table, registered in dependency
order on a small thread pool.

The family modules declare name -> CREATE text | UDF; `register_all`
derives each body's dependencies from the declared names it calls,
rejects a cycle or a call to an undeclared name before registering
anything, and raises on the first failed registration without
memoizing the session.
"""

from __future__ import annotations

import random
import re
import time
from types import SimpleNamespace

import pytest

from heavydb_spark import functions

_NAME = re.compile(r"FUNCTION\s+(\w+)")
_BODY = re.compile(r"\bRETURN\b", re.IGNORECASE)


def _recording_session(spans: dict, slow=frozenset()) -> SimpleNamespace:
    """A stand-in session that records when each registration starts
    and ends. Registering a name in `slow` takes longer, by an amount
    that varies from name to name, so a function not made to wait for
    it would start before it ends."""
    def register(name: str) -> None:
        start = time.perf_counter()
        time.sleep(0.05 * random.Random(name).random() if name in slow
                   else 0.001)
        spans[name] = start, time.perf_counter()

    return SimpleNamespace(
        sql=lambda text: register(_NAME.search(text).group(1)),
        udf=SimpleNamespace(register=lambda name, f: register(name)))


def _functions(session) -> dict[str, str]:
    """Name -> implementing class of every function the session
    resolves, builtins included."""
    return {f.name.lower(): f.className
            for f in session.catalog.listFunctions()}


def _calls() -> list[tuple[str, str]]:
    """(caller, callee) for each declared name a declared body calls."""
    out = []
    for name, fn in functions.FUNCTIONS.items():
        if isinstance(fn, str):
            body = _BODY.split(fn, 1)[1]
            out += [(name, callee) for callee in functions.FUNCTIONS
                    if callee != name
                    and re.search(rf"\b{callee}\s*\(", body, re.I)]
    return out


def test_each_create_follows_the_functions_its_body_calls():
    calls = _calls()
    spans: dict = {}
    functions.register_all(
        _recording_session(spans, {callee for _, callee in calls}))
    assert sorted(spans) == sorted(functions.FUNCTIONS)
    early = [f"{a} before {b}" for a, b in calls
             if spans[a][0] < spans[b][1]]
    assert len(calls) >= 20 and not early, early


def test_registered_set_is_the_declared_set(spark):
    """The functions register_all adds to a fresh session, or replaces
    there (a declared name may shadow a builtin), are exactly the
    declared names."""
    session = spark.newSession()
    before = _functions(session)
    functions.register_all(session)
    after = _functions(session)
    assert {name for name, cls in after.items()
            if before.get(name) != cls} == set(functions.FUNCTIONS)


_HEAD = "CREATE OR REPLACE TEMPORARY FUNCTION {}() RETURNS INT RETURN "


@pytest.mark.parametrize("table, error", [
    ({"f_a": _HEAD.format("f_a") + "f_b() + 1",
      "f_b": _HEAD.format("f_b") + "f_c()",
      "f_c": _HEAD.format("f_c") + "f_a()"}, "cycle among f_a, f_b, f_c"),
    ({"f_a": _HEAD.format("f_a") + "f_a()"}, "cycle among f_a"),
    ({"f_a": _HEAD.format("f_a") + "abs(f_missing(1))"},
     "f_a calls undeclared f_missing"),
], ids=["cycle", "self_call", "undeclared"])
def test_bad_table_raises_before_registering(monkeypatch, table, error):
    spans: dict = {}
    monkeypatch.setattr(functions, "FUNCTIONS", table)
    with pytest.raises(ValueError, match=error):
        functions.register_all(_recording_session(spans))
    assert spans == {}


def test_failed_registration_raises_and_a_retry_registers(spark,
                                                          monkeypatch):
    """A CREATE that Spark rejects raises from register_all, naming the
    function, and leaves the session unmemoized; the next call
    registers the whole table."""
    session = spark.newSession()
    with monkeypatch.context() as mp:
        mp.setitem(functions.FUNCTIONS, "st_nrings",
                   _HEAD.format("st_nrings") + "1 +")
        with pytest.raises(RuntimeError, match="st_nrings"):
            functions.register_all(session)
    assert session not in functions._REGISTERED
    functions.register_all(session)
    assert session in functions._REGISTERED
    row = session.sql("SELECT st_nrings(array(array(named_struct("
                      "'x', 0d, 'y', 0d)))) AS n, h3_celltoboundary_wkt("
                      "h3_lonlattocell(0d, 0d, 5)) AS wkt").first()
    assert row["n"] == 1 and row["wkt"].startswith("POLYGON ((")
