"""The small-statement profile of `Engine.sql_arrow`, and the session
helpers next to the confs it writes.

A statement whose optimized-plan leaves total at most the session's
`spark.sql.autoBroadcastJoinThreshold` is planned with AQE off and one
shuffle partition, then executed outside the engine's plan lock. These
tests pin that the profile changes only the physical plan (the
config-differential pattern of spark-rapids'
`assert_gpu_and_cpu_are_equal_collect`: one query, two configurations,
equal collected results), that it never leaks into the session's confs,
and that it is scoped to `sql_arrow`.
"""

from __future__ import annotations

import datetime
import inspect
import os
import re
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

from heavydb_spark.session import _default_driver_memory, spread_partition_count
from tests.conftest import SF_DIR, canonical


def _fake_session(shuffle_partitions: str, parallelism: int):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=parallelism),
        conf=SimpleNamespace(get=lambda key, default=None:
                             shuffle_partitions),
    )


def test_spread_partition_count_non_numeric_falls_back():
    """A non-numeric `spark.sql.shuffle.partitions` (some vendors'
    `auto`) spreads over defaultParallelism instead of raising."""
    assert spread_partition_count(_fake_session("auto", 6)) == 6


def test_spread_partition_count_numeric():
    assert spread_partition_count(_fake_session("12", 6)) == 12
    assert spread_partition_count(_fake_session("2", 6)) == 6


def test_default_driver_memory_fits_the_host():
    """16g, or half of physical RAM when that is less."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**21
    value = _default_driver_memory()
    assert value.endswith("m")
    assert 0 < int(value[:-1]) <= min(16 * 1024, half_mb)


def test_default_driver_memory_follows_the_cgroup_limit(tmp_path,
                                                        monkeypatch):
    """Inside a container, half of its cgroup memory limit when that is
    less than half of physical RAM; an unlimited cgroup ("max") falls
    back to physical RAM."""
    from heavydb_spark import session

    limit = tmp_path / "memory.max"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(limit),))
    limit.write_text("2147483648\n")
    assert _default_driver_memory() == "1024m"
    limit.write_text("max\n")
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    assert _default_driver_memory() == f"{min(16 * 1024, half_mb)}m"


# -- config differential -------------------------------------------------

AQE = "spark.sql.adaptive.enabled"
SHUFFLE = "spark.sql.shuffle.partitions"
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

# perfbench's eight dashboard templates with one literal tuple each,
# over the sf0.001 fixture
DASHBOARD = {
    "filter_groupby":
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS qty FROM lineitem "
        "WHERE l_discount BETWEEN 0.02 AND 0.06 "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
    "dateadd_range":
        "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00' "
        "AND o_orderdate < DATEADD('day', 90, "
        "TIMESTAMP '1996-03-01 00:00:00') "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "sample_join":
        "SELECT c_nationkey, SAMPLE(n_name) AS nation, COUNT(*) AS n "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > 0 GROUP BY c_nationkey ORDER BY c_nationkey",
    "approx_median":
        "SELECT l_returnflag, APPROX_MEDIAN(l_extendedprice) AS med, "
        "COUNT(*) AS n FROM lineitem WHERE l_quantity BETWEEN 10 AND 19 "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
    "int_division":
        "SELECT l_linenumber / 3 AS bucket, COUNT(*) AS n FROM lineitem "
        "WHERE l_partkey BETWEEN 0 AND 39 GROUP BY l_linenumber / 3 "
        "ORDER BY bucket",
    "point_lookup":
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey = 737",
    "topk_limit":
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_mktsegment = 'BUILDING' ORDER BY c_acctbal DESC, c_custkey "
        "LIMIT 10",
    "region_join":
        "SELECT r_name, COUNT(*) AS n, SUM(s_acctbal) AS bal FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE s_acctbal > 0 "
        "GROUP BY r_name ORDER BY r_name",
}


def _engine_routed():
    """Catalog queries with an oracle whose builder returns the
    DataFrame of one `Engine.sql` text (or a column subset of it)."""
    from heavydb_spark.queries import ORACLES, QUERIES

    return sorted(n for n in ORACLES
                  if "return eng.sql(" in inspect.getsource(QUERIES[n]))


@contextmanager
def _conf(spark, key, value):
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def _cell(v):
    # toArrow() carries the session zone (UTC); collect() and DuckDB
    # hand back naive timestamps
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _by_name(cols, rows):
    """Rows with columns in name order, then canonicalized."""
    cols = [c.lower() for c in cols]
    idx = sorted(range(len(cols)), key=lambda j: cols[j])
    return ([cols[i] for i in idx],
            canonical([[_cell(r[i]) for i in idx] for r in rows]))


def _arrow(table, cols=None):
    cols = cols or table.column_names
    return _by_name(cols, [tuple(d[c] for c in cols)
                           for d in table.to_pylist()])


def _differential(engine, spark, text, cols=None):
    """`text` through sql_arrow on the small profile and with it off
    (a non-positive threshold disables it): both canonical results."""
    assert engine._small_input(engine.sql(text)._jdf.queryExecution())
    small = _arrow(engine.sql_arrow(text), cols)
    with _conf(spark, THRESHOLD, "-1"):
        default = _arrow(engine.sql_arrow(text), cols)
    return small, default


@pytest.mark.parametrize("name", sorted(DASHBOARD))
def test_dashboard_template_profile_differential(engine, spark, name):
    small, default = _differential(engine, spark, DASHBOARD[name])
    assert small == default
    assert small[1], f"{name}: literals select no rows"


@pytest.mark.parametrize("name", _engine_routed())
def test_engine_routed_oracle_profile_differential(engine, spark, ddb,
                                                   monkeypatch, name):
    from heavydb_spark.engine import Engine
    from heavydb_spark.queries import ORACLES, QUERIES

    calls = []
    sql = Engine.sql

    def recording_sql(self, query):
        out = sql(self, query)
        calls.append((query, out))
        return out

    monkeypatch.setattr(Engine, "sql", recording_sql)
    built = QUERIES[name](spark, SF_DIR)
    monkeypatch.undo()
    text, last = calls[-1]
    assert set(built.columns) <= set(last.columns), name
    small, default = _differential(engine, spark, text, built.columns)
    assert small == default
    oracle = ddb.sql(ORACLES[name])
    assert small == _by_name(oracle.columns, oracle.fetchall())


def test_engine_routed_catalog_is_covered():
    assert len(_engine_routed()) >= 9


# -- conf safety -----------------------------------------------------------


def _profile_confs(spark):
    return spark.conf.get(AQE), spark.conf.get(SHUFFLE)


def test_confs_restored_after_success(engine, spark):
    before = _profile_confs(spark)
    engine.sql_arrow(DASHBOARD["filter_groupby"])
    assert _profile_confs(spark) == before
    try:
        engine.sql_arrow("ALTER SESSION SET spark.sql.shuffle.partitions=7")
        engine.sql_arrow(DASHBOARD["region_join"])
        assert _profile_confs(spark) == (before[0], "7")
    finally:
        spark.conf.set(SHUFFLE, before[1])


def test_confs_restored_when_planning_fails(engine, spark, monkeypatch):
    """A failure while the profile is live restores both confs and
    releases the plan lock."""
    from heavydb_spark.engine import Engine

    before = _profile_confs(spark)
    seen = []

    def failing_plan():
        seen.append(_profile_confs(spark))
        raise RuntimeError("planning failed")

    query_execution = SimpleNamespace(executedPlan=failing_plan)
    frame = SimpleNamespace(_jdf=SimpleNamespace(
        queryExecution=lambda: query_execution))
    monkeypatch.setattr(Engine, "sql", lambda self, q: frame)
    monkeypatch.setattr(Engine, "_small_input", lambda self, qe: True)
    with pytest.raises(RuntimeError, match="planning failed"):
        engine.sql_arrow("SELECT 1")
    monkeypatch.undo()
    assert seen == [("false", "1")]
    assert _profile_confs(spark) == before
    assert engine.sql_arrow("SELECT 1 AS one").to_pylist() == [{"one": 1}]


# -- plan scope ------------------------------------------------------------

_PARTITIONING_RE = re.compile(r"(?:hash|range)partitioning\(.*?, (\d+)\)")


def _delivered_plan(engine, monkeypatch, text) -> str:
    """The physical plan sql_arrow executed for `text`."""
    from heavydb_spark.engine import Engine

    frames = []
    sql = Engine.sql
    monkeypatch.setattr(
        Engine, "sql",
        lambda self, q: frames.append(sql(self, q)) or frames[-1])
    engine.sql_arrow(text)
    monkeypatch.undo()
    return frames[-1]._jdf.queryExecution().executedPlan().toString()


def test_small_statement_plans_static_one_partition(engine, monkeypatch):
    plan = _delivered_plan(engine, monkeypatch, DASHBOARD["filter_groupby"])
    assert "AdaptiveSparkPlan" not in plan
    counts = _PARTITIONING_RE.findall(plan)
    assert counts and set(counts) == {"1"}, plan


def test_statement_above_threshold_keeps_aqe(engine, spark, monkeypatch):
    with _conf(spark, THRESHOLD, "1"):  # below any fixture file's bytes
        plan = _delivered_plan(
            engine, monkeypatch, DASHBOARD["filter_groupby"])
    assert plan.startswith("AdaptiveSparkPlan"), plan


def test_profile_skipped_while_eager_statement_runs(engine, monkeypatch):
    """While Engine.sql runs a conf write, DDL or DML, a small
    statement plans on the default AQE path instead of waiting."""
    with engine._eager_statement():
        plan = _delivered_plan(
            engine, monkeypatch, DASHBOARD["filter_groupby"])
    assert plan.startswith("AdaptiveSparkPlan"), plan
    assert engine._eager_statements == 0


def test_engine_sql_keeps_aqe(engine):
    text = DASHBOARD["filter_groupby"]
    engine.sql_arrow(text)
    plan = engine.sql(text)._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("AdaptiveSparkPlan"), plan
