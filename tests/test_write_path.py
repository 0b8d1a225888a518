"""The table write path: one replace and one append behind every
UPDATE, DELETE, ALTER, OPTIMIZE, TRUNCATE, load_table and COPY FROM.

A failed statement must leave its table readable as exactly its
pre-image, a rerun must clear what the failure left behind, and a
result-cache read that lands inside a write must not outlive it."""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

import pytest
from pyspark.sql import DataFrameWriter, SparkSession

from heavydb_spark.engine import Engine
from heavydb_spark.operators import mutation


def _drop(spark, *names):
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")
        spark.catalog.dropTempView(n)


def _image(spark, table):
    df = spark.table(table)
    return df.dtypes, sorted(tuple(r) for r in df.collect())


def _is_temp_view(spark, name):
    return spark.catalog.getTable(name).tableType == "TEMPORARY"


def _leftovers(spark, table):
    return sorted(
        t.name for t in spark.catalog.listTables()
        if t.name.lower().startswith(f"{table}__")
    )


# -- result cache: a read inside a write is not kept past it -------------

@pytest.mark.parametrize("managed", [False, True], ids=["view", "managed"])
def test_result_cache_read_inside_delete_is_not_kept(engine, spark,
                                                     monkeypatch, managed):
    """A cached read that runs while a DELETE is between its start and
    its commit must not serve the pre-image afterwards: on a view it
    returned 5 rows for 4, on a managed table it read the dropped
    files of the parked original."""
    t = "wp_cache_m" if managed else "wp_cache_v"
    _drop(spark, t, f"{t}__dml_staging", f"{t}__dml_old")
    if managed:
        spark.table("region").write.saveAsTable(t)
    else:
        spark.table("region").createOrReplaceTempView(t)
    eng = Engine(spark)
    eng.result_cache = True
    q = f"SELECT count(*) AS n FROM {t}"
    real = mutation.delete_filter

    def read_then_filter(df, cond):
        assert eng.sql(q).first()["n"] == 5
        return real(df, cond)

    monkeypatch.setattr(mutation, "delete_filter", read_then_filter)
    try:
        eng.sql(f"DELETE FROM {t} WHERE r_regionkey = 0")
        assert eng.sql(q).first()["n"] == 4
        assert eng.sql(q).first()["n"] == 4  # the replayed hit agrees
    finally:
        eng._invalidate_result_cache()
        _drop(spark, t)


# -- the temp-view test resolves names as Spark does ---------------------

@pytest.mark.parametrize("stmt", [
    "DELETE FROM WP_CASE_V WHERE r_regionkey = 0",
    "UPDATE WP_CASE_V SET r_name = 'X' WHERE r_regionkey = 0",
    "ALTER TABLE WP_CASE_V ADD COLUMN note TEXT",
    "TRUNCATE TABLE WP_CASE_V",
])
def test_write_through_other_case_keeps_the_view(engine, spark, stmt):
    """Spark resolves `WP_CASE_V` to the temp view `wp_case_v`; the
    write must too, not take the managed path and leave a managed
    table in the warehouse under the view's name."""
    _drop(spark, "wp_case_v", "wp_case_v__dml_staging",
          "wp_case_v__alter_staging")
    spark.table("region").createOrReplaceTempView("wp_case_v")
    try:
        engine.sql(stmt)
        assert _is_temp_view(spark, "wp_case_v")
        assert _leftovers(spark, "wp_case_v") == []
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        assert not os.path.exists(os.path.join(wh, "wp_case_v"))
    finally:
        _drop(spark, "wp_case_v")


def test_append_through_other_case_keeps_the_view(engine, spark):
    _drop(spark, "wp_case_a")
    spark.table("region").createOrReplaceTempView("wp_case_a")
    try:
        engine.load_table("WP_CASE_A", [(9, "NINE")])
        assert _is_temp_view(spark, "wp_case_a")
        assert spark.table("wp_case_a").count() == 6
    finally:
        _drop(spark, "wp_case_a")


# -- a park left by a failed final DROP ---------------------------------

@pytest.mark.parametrize("form", ["table", "directory"])
def test_leftover_park_does_not_wedge_the_table(engine, spark, form):
    """`t__dml_old` left by a failed DROP (a catalog table) or by a
    killed process (a warehouse directory only) is the pre-image of a
    swap that completed, since `t` exists: the next UPDATE clears it
    instead of failing on TABLE_OR_VIEW_ALREADY_EXISTS."""
    t = "wp_park"
    _drop(spark, t, f"{t}__dml_old", f"{t}__dml_staging")
    engine.sql(f"CREATE TABLE {t} (k INT, v INT)")
    try:
        engine.sql(f"INSERT INTO {t} VALUES (1, 10), (2, 20)")
        if form == "table":
            spark.sql(f"CREATE TABLE {t}__dml_old AS SELECT 1 AS k, 10 AS v")
        else:
            wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            os.makedirs(os.path.join(wh, f"{t}__dml_old"), exist_ok=True)
        engine.sql(f"UPDATE {t} SET v = 11 WHERE k = 1")
        engine.sql(f"UPDATE {t} SET v = 22 WHERE k = 2")
        rows = {r.k: r.v for r in spark.table(t).collect()}
        assert rows == {1: 11, 2: 22}
        assert _leftovers(spark, t) == []
    finally:
        _drop(spark, t, f"{t}__dml_old", f"{t}__dml_staging")


def test_park_without_its_table_is_left_alone(engine, spark):
    """With `t` missing, `t__dml_old` may be the only copy of the data
    (a kill between park and rename): a write to `t` fails and the
    park keeps its rows."""
    _drop(spark, "wp_lost", "wp_lost__dml_old")
    spark.sql("CREATE TABLE wp_lost__dml_old AS SELECT 1 AS k, 10 AS v")
    try:
        with pytest.raises(Exception):
            engine.sql("UPDATE wp_lost SET v = 0")
        assert [tuple(r) for r in spark.table("wp_lost__dml_old")
                .collect()] == [(1, 10)]
    finally:
        _drop(spark, "wp_lost", "wp_lost__dml_old")


# -- a rename onto a name in use -----------------------------------------

@pytest.mark.parametrize("target", ["managed", "view"])
def test_alter_rename_onto_existing_name_leaves_pre_image(engine, spark,
                                                          target):
    """`ALTER TABLE a ADD COLUMN x INT, RENAME TO b` with `b` present
    fails before the rewrite: `a` reads as its exact pre-image, not
    with the new column, and `b` is untouched."""
    _drop(spark, "wp_ren_a", "wp_ren_b")
    spark.table("region").write.saveAsTable("wp_ren_a")
    if target == "managed":
        spark.table("nation").write.saveAsTable("wp_ren_b")
    else:
        spark.table("nation").createOrReplaceTempView("wp_ren_b")
    try:
        pre_a, pre_b = _image(spark, "wp_ren_a"), _image(spark, "wp_ren_b")
        with pytest.raises(Exception, match="wp_ren_b"):
            engine.sql("ALTER TABLE wp_ren_a ADD COLUMN x INT, "
                       "RENAME TO wp_ren_b")
        assert _image(spark, "wp_ren_a") == pre_a
        assert _image(spark, "wp_ren_b") == pre_b
        assert _leftovers(spark, "wp_ren_a") == []
    finally:
        _drop(spark, "wp_ren_a", "wp_ren_b")


# -- faults inside the shared replace -----------------------------------

_STATEMENTS = {
    "update": ("UPDATE wp_fault SET r_name = 'X' WHERE r_regionkey = 1",
               lambda df: df.filter("r_name = 'X'").count() == 1),
    "delete": ("DELETE FROM wp_fault WHERE r_regionkey = 1",
               lambda df: df.count() == 4),
    "alter_add": ("ALTER TABLE wp_fault ADD COLUMN note TEXT",
                  lambda df: "note" in df.columns),
    "optimize": ("OPTIMIZE TABLE wp_fault",
                 lambda df: df.count() == 5),
}


class _Injected(RuntimeError):
    pass


def _fail_staging_write(monkeypatch):
    """The staging write raises after its files land."""
    real = DataFrameWriter.saveAsTable

    def save(self, name, *a, **kw):
        real(self, name, *a, **kw)
        if re.fullmatch(r"wp_fault__\w+_staging", name):
            raise _Injected(f"staging write of {name}")

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", save)


def _fail_rename(monkeypatch):
    """The staging -> target rename raises."""
    real = SparkSession.sql

    def sql(self, text, *a, **kw):
        if re.fullmatch(r"ALTER TABLE wp_fault__\w+_staging RENAME TO "
                        r"wp_fault", text.strip()):
            raise _Injected(text)
        return real(self, text, *a, **kw)

    monkeypatch.setattr(SparkSession, "sql", sql)


@pytest.mark.parametrize("fault", [_fail_staging_write, _fail_rename],
                         ids=["staging_write", "rename"])
@pytest.mark.parametrize("stmt", sorted(_STATEMENTS))
def test_fault_in_replace_leaves_pre_image(engine, spark, monkeypatch,
                                           stmt, fault):
    """A statement whose replace fails raises, the table reads as its
    exact pre-image, and the same statement rerun without the fault
    succeeds and leaves no staging or park table behind."""
    text, post_ok = _STATEMENTS[stmt]
    _drop(spark, "wp_fault")
    for leftover in _leftovers(spark, "wp_fault"):
        _drop(spark, leftover)
    spark.table("region").repartition(3).write.saveAsTable("wp_fault")
    try:
        pre = _image(spark, "wp_fault")
        with monkeypatch.context() as mp:
            fault(mp)
            with pytest.raises(_Injected):
                engine.sql(text)
        assert _image(spark, "wp_fault") == pre
        engine.sql(text)
        assert post_ok(spark.table("wp_fault"))
        assert _leftovers(spark, "wp_fault") == []
    finally:
        _drop(spark, "wp_fault")
        for leftover in _leftovers(spark, "wp_fault"):
            _drop(spark, leftover)
