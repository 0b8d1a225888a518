"""Span recording and the self-time arithmetic."""

import threading
import types

import pytest

from spans import Span, Tracer, covered, self_times


def span(sid, start, end, parent=None):
    return Span(sid=sid, name=f"s{sid}", parent=parent, stmt="x",
                start=start, end=end)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_is_duration_minus_children():
    spans = [
        span(0, 0.0, 10.0),
        span(1, 1.0, 4.0, parent=0),
        span(2, 3.0, 6.0, parent=0),  # overlaps its sibling: counted once
        span(3, 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_tracer_nests_and_shares_statement_id():
    tr = Tracer(True)
    with tr.span("stmt.select", stmt="q1"):
        with tr.span("engine.sql"):
            with tr.span("dialect.rewrite"):
                pass
    by_name = {s.name: s for s in tr.spans}
    assert {s.stmt for s in tr.spans} == {"q1"}
    assert by_name["engine.sql"].parent == by_name["stmt.select"].sid
    assert by_name["dialect.rewrite"].parent == by_name["engine.sql"].sid
    assert by_name["stmt.select"].parent is None


def test_tracer_keeps_threads_apart():
    tr = Tracer(True)
    gate = threading.Barrier(2, timeout=10)

    def client(name):
        with tr.span("stmt", stmt=name):
            gate.wait()
            with tr.span("inner"):
                pass

    ts = [threading.Thread(target=client, args=(n,)) for n in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=10)
        assert not t.is_alive()
    parents = {s.sid: s for s in tr.spans if s.name == "stmt"}
    for s in tr.spans:
        if s.name == "inner":
            assert parents[s.parent].stmt == s.stmt


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("a", stmt="q"):
        pass
    assert tr.spans == []


def test_wrap_spans_calls_and_restores():
    tr = Tracer(True)
    mod = types.SimpleNamespace(rewrite=lambda sql: sql.upper())
    restore = tr.wrap(mod, "rewrite", "dialect.rewrite")
    assert mod.rewrite("select 1") == "SELECT 1"
    assert [s.name for s in tr.spans] == ["dialect.rewrite"]
    restore()
    mod.rewrite("x")
    assert len(tr.spans) == 1
