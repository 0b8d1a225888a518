"""The one-partition plan of small `Engine.sql_arrow` statements, and the
session helpers next to it.

A read-only query whose input leaves total at most the session's
`spark.sql.autoBroadcastJoinThreshold` reads each scan leaf through one
partition, so its plan needs no shuffle. These tests pin that the wrap
changes only the physical plan (the config-differential pattern of
spark-rapids' `assert_gpu_and_cpu_are_equal_collect`: one query, two
configurations, equal collected results), that it writes no session
conf, that it is scoped to `sql_arrow`'s read-only queries, and that it
keeps the result cache, commands, driver-folded literals, subqueries and
hints working.
"""

from __future__ import annotations

import datetime
import inspect
import os
import re
import uuid
from concurrent.futures import ThreadPoolExecutor
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
    """`text` through sql_arrow with its scans wrapped and with the wrap
    off (a non-positive threshold disables it): both canonical results."""
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


def test_concurrent_sql_arrow_writes_no_conf(engine, spark):
    """Eight sql_arrow calls at once leave every session conf as it was."""
    before = spark.conf.getAll
    with ThreadPoolExecutor(max_workers=len(DASHBOARD)) as pool:
        tables = list(pool.map(engine.sql_arrow, DASHBOARD.values(),
                               timeout=300))
    assert all(t.num_rows for t in tables)
    assert spark.conf.getAll == before


# -- plan shape ------------------------------------------------------------

# a ShuffleExchangeExec node; a BroadcastExchange is not a shuffle
_SHUFFLE_RE = re.compile(r"\bExchange\b")


def _delivered_plan(engine, text) -> str:
    """The physical plan of the frame whose toArrow() sql_arrow ran."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    to_arrow = DataFrame.toArrow
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrame, "toArrow",
                   lambda self: frames.append(self) or to_arrow(self))
        engine.sql_arrow(text)
    return frames[-1]._jdf.queryExecution().executedPlan().toString()


def _stages_per_job(spark, engine, text) -> list[int]:
    """Stage count of each Spark job sql_arrow ran for `text`."""
    sc = spark.sparkContext
    group = f"small_profile_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "stage count")
    try:
        engine.sql_arrow(text)
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    return [len(tracker.getJobInfo(j).stageIds)
            for j in tracker.getJobIdsForGroup(group)]


@pytest.mark.parametrize("name", sorted(DASHBOARD))
def test_small_statement_runs_one_stage_per_job(engine, spark, name):
    plan = _delivered_plan(engine, DASHBOARD[name])
    assert not _SHUFFLE_RE.search(plan), plan
    assert "Coalesce 1" in plan, plan
    stages = _stages_per_job(spark, engine, DASHBOARD[name])
    assert stages and set(stages) == {1}, stages


def test_statement_above_threshold_keeps_parallel_scan(engine, spark):
    with _conf(spark, THRESHOLD, "1"):  # below any fixture file's bytes
        plan = _delivered_plan(engine, DASHBOARD["filter_groupby"])
    assert plan.startswith("AdaptiveSparkPlan"), plan
    assert "Coalesce" not in plan, plan
    assert _SHUFFLE_RE.search(plan), plan


def test_engine_sql_keeps_aqe(engine):
    text = DASHBOARD["filter_groupby"]
    engine.sql_arrow(text)
    plan = engine.sql(text)._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("AdaptiveSparkPlan"), plan
    assert "Coalesce" not in plan, plan


# -- what the wrap must leave working --------------------------------------


def test_result_cache_hit_reads_the_cache(engine):
    text = DASHBOARD["region_join"]
    try:
        engine.sql("ALTER SESSION SET RESULT_CACHE='on'")
        first = _arrow(engine.sql_arrow(text))
        plan = _delivered_plan(engine, text)
        assert "InMemoryTableScan" in plan, plan
        assert _arrow(engine.sql_arrow(text)) == first
    finally:
        engine.sql("ALTER SESSION SET RESULT_CACHE='off'")
        engine._invalidate_result_cache()


def test_insert_through_sql_arrow_runs_once(engine, spark):
    spark.sql("DROP TABLE IF EXISTS arrow_insert_once")
    try:
        engine.sql("CREATE TABLE arrow_insert_once (x INT)")
        engine.sql_arrow("INSERT INTO arrow_insert_once VALUES (1), (2)")
        assert spark.table("arrow_insert_once").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS arrow_insert_once")


@pytest.mark.parametrize("text", [
    "SELECT 1 AS one",
    "VALUES (1, 'a'), (2, 'b')",
])
def test_driver_folded_statement_is_not_wrapped(engine, spark, text):
    """A LocalRelation or OneRowRelation leaf stays unwrapped. The only
    job is the one toArrow() always runs to collect Arrow batches (one
    stage, one task): the wrap adds none."""
    plan = _delivered_plan(engine, text)
    assert "Coalesce" not in plan, plan
    assert _stages_per_job(spark, engine, text) == [1]


def test_scalar_subquery_differential(engine, spark):
    text = ("SELECT n_name, n_regionkey FROM nation WHERE n_regionkey = "
            "(SELECT MAX(r_regionkey) FROM region WHERE r_name < 'E')")
    small, default = _differential(engine, spark, text)
    assert small == default
    assert small[1]


def test_keep_result_hint_through_sql_arrow(engine):
    text = ("SELECT /*+ keep_result */ n_regionkey, COUNT(*) AS n "
            "FROM nation GROUP BY n_regionkey")
    got = _arrow(engine.sql_arrow(text))
    want = engine.sql(text)
    assert got == _by_name(want.columns, want.collect())
    assert len(got[1]) == 5
