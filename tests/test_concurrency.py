"""Concurrent-execution suite — the ConcurrencyTest.cpp /
ParallelExecutorsTest.cpp analogue (Tests/CMakeLists.txt targets).

The reference asserts that simultaneous queries on one server produce
the same results as sequential runs and that DML interleaved with reads
neither deadlocks nor corrupts. The Spark analogue: one SparkSession
serving many driver threads (Spark's scheduler is thread-safe; each
action becomes an independent job), same-result assertions against a
sequential baseline, and interleaved CTAS/INSERT/SELECT through the
Engine SQL surface on separate tables.
"""

from __future__ import annotations

import re
import threading
from concurrent.futures import ThreadPoolExecutor

from tests.conftest import SF_DIR, canonical

# One query per operator family — cheap but plan-diverse.
QUERY_SLICE = [
    "pricing_summary",
    "join_star_agg",
    "agg_groupby_multicol",
    "window_moving_avg",
    "union_distinct",
    "fn_datetime",
    "sort_topk",
    "in_list_filter",
]


def _run(spark, name):
    from heavydb_spark.queries import QUERIES

    return canonical([tuple(r) for r in QUERIES[name](spark, SF_DIR).collect()])


def test_parallel_distinct_queries_match_sequential(spark):
    """8 different queries fired concurrently return exactly the
    sequential results (scheduler-level interleaving is invisible)."""
    sequential = {n: _run(spark, n) for n in QUERY_SLICE}
    with ThreadPoolExecutor(max_workers=len(QUERY_SLICE)) as pool:
        futures = {n: pool.submit(_run, spark, n) for n in QUERY_SLICE}
        concurrent = {n: f.result(timeout=300) for n, f in futures.items()}
    for n in QUERY_SLICE:
        assert concurrent[n] == sequential[n], n


def test_same_query_parallel_storm(spark):
    """The same aggregation from 16 threads at once: every result
    identical (no shared-state corruption in repeated planning)."""
    baseline = _run(spark, "agg_groupby_multicol")
    with ThreadPoolExecutor(max_workers=16) as pool:
        results = list(
            pool.map(lambda _: _run(spark, "agg_groupby_multicol"), range(16))
        )
    assert all(r == baseline for r in results)


def test_interleaved_ddl_dml_and_reads(spark, tmp_path):
    """Concurrent CTAS + INSERT on per-thread tables while reads run on
    the shared fixture — the UpdelStorage/Concurrency interleave. Each
    thread owns its table (the reference serializes per-table via
    locks; Spark temp views are session-global, so names are
    namespaced per thread)."""
    from heavydb_spark.engine import Engine

    eng = Engine(spark)
    eng.attach(SF_DIR)

    def writer(i: int):
        t = f"conc_t{i}"
        eng.sql(f"CREATE TEMPORARY VIEW {t} AS SELECT * FROM nation")
        n = eng.sql(f"SELECT count(*) AS n FROM {t}").first()["n"]
        return n

    def reader(_i: int):
        return eng.sql(
            "SELECT count(*) AS n FROM lineitem WHERE l_quantity > 25"
        ).first()["n"]

    expected_read = reader(0)
    with ThreadPoolExecutor(max_workers=8) as pool:
        wf = [pool.submit(writer, i) for i in range(4)]
        rf = [pool.submit(reader, i) for i in range(4)]
        writes = [f.result(timeout=300) for f in wf]
        reads = [f.result(timeout=300) for f in rf]
    assert all(w == 25 for w in writes), writes
    assert all(r == expected_read for r in reads), reads


def test_result_recycler_same_key_miss_storm(engine, spark):
    """Round-8 (verdict task #6 + advice): N threads missing on the
    same key concurrently must leave exactly ONE cache entry, still
    pinned, and no leaked block — Spark's CacheManager keys on the
    analyzed plan, so the losers' .cache() calls dedup against the
    winner's entry; the engine must NOT unpersist a losing frame (that
    would clobber the shared plan-level cache) nor overwrite the dict
    entry (engine.py cache-insert race)."""
    engine.sql("ALTER SESSION SET RESULT_CACHE='on'")
    engine._invalidate_result_cache()
    jsc = spark.sparkContext._jsc.sc()
    base_persisted = jsc.getPersistentRDDs().size()
    q = ("SELECT n_regionkey, count(*) AS n FROM nation "
         "GROUP BY n_regionkey")
    try:
        expected = sorted(
            tuple(r) for r in spark.sql(
                "SELECT n_regionkey, count(*) AS n FROM nation "
                "GROUP BY n_regionkey"
            ).collect()
        )
        with ThreadPoolExecutor(max_workers=12) as pool:
            results = list(pool.map(
                lambda _: sorted(tuple(r) for r in engine.sql(q).collect()),
                range(12),
            ))
        assert all(r == expected for r in results)
        # exactly one surviving entry, still materialized and usable
        assert len(engine._result_cache_entries) == 1
        (entry,) = engine._result_cache_entries.values()
        assert entry.storageLevel.useMemory  # winner not unpersisted
        assert sorted(tuple(r) for r in entry.collect()) == expected
        # the 11 losers' cached frames were dropped: at most one net
        # new pinned RDD (leak repro: 12 with the overwrite bug)
        assert jsc.getPersistentRDDs().size() <= base_persisted + 1
    finally:
        engine.sql("ALTER SESSION SET RESULT_CACHE='off'")
        engine._invalidate_result_cache()


def test_result_recycler_reads_race_invalidating_insert(engine, spark):
    """Round-8 (verdict task #6): reader threads replaying a cached
    query while a writer thread runs invalidating INSERTs must never
    observe a stale frame — every read is one of the counts that
    existed at some point, and once all writers finish the cached
    read equals the final state."""
    spark.sql("DROP TABLE IF EXISTS rc_race")
    engine.sql("CREATE TABLE rc_race AS SELECT 1 AS x")
    engine.sql("ALTER SESSION SET RESULT_CACHE='on'")
    q = "SELECT count(*) AS n FROM rc_race"
    try:
        def reader(_i):
            return engine.sql(q).first()["n"]

        def writer():
            # one writer thread, sequential INSERTs — concurrent
            # writes to ONE table collide on Hadoop's _temporary
            # staging dir (the reference serializes per-table writes
            # via locks); the race under test is readers-vs-writer
            out = []
            for i in range(4):
                engine.sql(f"INSERT INTO rc_race VALUES ({i + 2})")
                out.append(engine.sql(q).first()["n"])
            return out

        with ThreadPoolExecutor(max_workers=8) as pool:
            wf = pool.submit(writer)
            rf = [pool.submit(reader, i) for i in range(12)]
            reads = [f.result(timeout=300) for f in rf]
            writes = wf.result(timeout=300)
        # every observed count is a state the table actually had
        assert all(1 <= n <= 5 for n in reads + writes), (reads, writes)
        # all writers finished: the cached read must see the final
        # state, not a stale pre-insert frame
        assert engine.sql(q).first()["n"] == 5
        assert engine.sql(q).first()["n"] == 5  # replayed hit agrees
    finally:
        engine.sql("ALTER SESSION SET RESULT_CACHE='off'")
        engine._invalidate_result_cache()
        spark.sql("DROP TABLE IF EXISTS rc_race")


def test_result_recycler_stale_insert_toctou(engine, spark):
    """Round-9 (advice r8): a reader whose frame was BUILT before a
    writer's invalidation must not insert that pre-mutation frame
    afterwards. Deterministic repro: hook spark.sql so the
    invalidation fires inside the reader's build window (after the
    epoch snapshot, before the locked insert), then assert the stale
    frame was not cached and a fresh read sees the post-insert state
    from an uncorrupted cache."""
    spark.sql("DROP TABLE IF EXISTS rc_toctou")
    engine.sql("CREATE TABLE rc_toctou AS SELECT 1 AS x")
    engine.sql("ALTER SESSION SET RESULT_CACHE='on'")
    q = "SELECT count(*) AS n FROM rc_toctou"
    real_spark = engine.spark
    real_sql = real_spark.sql
    state = {"armed": True}

    class _HookedSpark:
        def __getattr__(self, name):
            return getattr(real_spark, name)

        def sql(self, text, *a, **kw):
            df = real_sql(text, *a, **kw)
            if state["armed"] and "rc_toctou" in text and "count" in text:
                state["armed"] = False
                # the mutation lands while the reader holds its built
                # frame but before the locked insert
                real_sql("INSERT INTO rc_toctou VALUES (2)")
                engine._invalidate_result_cache()
            return df

    try:
        orig = engine.spark
        engine.spark = _HookedSpark()
        try:
            first = engine.sql(q).first()["n"]
        finally:
            engine.spark = orig
        # the reader's own frame is lazy — whether it observes the
        # interleaved insert depends on file-index snapshot timing;
        # either table state is legal for THAT read
        assert first in (1, 2)
        # the stale frame must NOT have been cached...
        assert engine._result_cache_entries == {}
        # ...so the next read recomputes and sees the insert
        assert engine.sql(q).first()["n"] == 2
        assert engine.sql(q).first()["n"] == 2  # replayed hit agrees
    finally:
        engine.sql("ALTER SESSION SET RESULT_CACHE='off'")
        engine._invalidate_result_cache()
        spark.sql("DROP TABLE IF EXISTS rc_toctou")


def test_result_recycler_evicted_entry_recomputes(engine, spark):
    """Round-9 (verdict queue #8): a FIFO-evicted entry is unpersisted
    OUTSIDE the lock (engine.py); a subsequent re-query of that key
    must recompute — fresh frame, correct rows, re-inserted into the
    cache — never serve the unpersisted evicted handle."""
    engine.sql("ALTER SESSION SET RESULT_CACHE='on'")
    engine._invalidate_result_cache()
    old_max = engine._RESULT_CACHE_MAX
    engine.__class__._RESULT_CACHE_MAX = 3
    try:
        q0 = "SELECT count(*) AS n FROM nation WHERE n_nationkey >= 0"
        expected = engine.sql(q0).first()["n"]
        first_entry = next(iter(engine._result_cache_entries.values()))
        # fill past the bound so q0 (oldest) is evicted
        for k in range(1, 4):
            engine.sql(
                f"SELECT count(*) AS n FROM nation WHERE n_nationkey >= {k}"
            ).collect()
        assert len(engine._result_cache_entries) == 3
        keys = list(engine._result_cache_entries)
        assert not any("n_nationkey >= 0" in k for k in keys)  # evicted
        assert not first_entry.storageLevel.useMemory  # unpersisted
        # re-query: recomputes, correct, re-cached and pinned
        again = engine.sql(q0)
        assert again.first()["n"] == expected
        assert any("n_nationkey >= 0" in k
                   for k in engine._result_cache_entries)
        cached = [v for k, v in engine._result_cache_entries.items()
                  if "n_nationkey >= 0" in k][0]
        assert cached.storageLevel.useMemory
        assert cached.first()["n"] == expected
    finally:
        engine.__class__._RESULT_CACHE_MAX = old_max
        engine.sql("ALTER SESSION SET RESULT_CACHE='off'")
        engine._invalidate_result_cache()


# Engine.sql_arrow statements: seven small ones whose scans it reads
# through one partition, and one whose range() leaf (16 MB) is above the
# broadcast threshold and keeps the default AQE plan.
ARROW_SLICE = [
    "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty "
    "FROM lineitem GROUP BY l_returnflag",
    "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
    "WHERE o_orderdate < DATEADD('day', 400, TIMESTAMP '1996-01-01 00:00:00') "
    "GROUP BY o_orderpriority",
    "SELECT c_nationkey, SAMPLE(n_name) AS nation, COUNT(*) AS n "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY c_nationkey",
    "SELECT l_returnflag, APPROX_MEDIAN(l_extendedprice) AS med "
    "FROM lineitem GROUP BY l_returnflag",
    "SELECT l_linenumber / 2 AS bucket, COUNT(*) AS n FROM lineitem "
    "GROUP BY l_linenumber / 2",
    "SELECT c_custkey, c_acctbal FROM customer "
    "ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
    "SELECT r_name, COUNT(*) AS n FROM supplier "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
    "SELECT id % 7 AS k, COUNT(*) AS n FROM range(2000000) GROUP BY id % 7",
]


def test_sql_arrow_parallel_matches_sequential(engine, spark):
    """8 threads in Engine.sql_arrow at once return the sequential
    results and leave AQE and the shuffle partition count as they were
    (sql_arrow changes a small statement's plan, never a session conf)."""
    confs = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = [spark.conf.get(k) for k in confs]
    assert [engine._small_input(engine.sql(t)._jdf.queryExecution())
            for t in ARROW_SLICE] == [True] * 7 + [False]

    def run(text):
        return canonical([tuple(d.values())
                          for d in engine.sql_arrow(text).to_pylist()])

    sequential = [run(t) for t in ARROW_SLICE]
    with ThreadPoolExecutor(max_workers=len(ARROW_SLICE)) as pool:
        for _ in range(3):
            concurrent = list(pool.map(run, ARROW_SLICE, timeout=300))
            assert concurrent == sequential
    assert [spark.conf.get(k) for k in confs] == before


def test_alter_session_survives_concurrent_sql_arrow(engine, spark):
    """ALTER SESSION SET spark.sql.shuffle.partitions, raced against
    sql_arrow calls, is never undone: SET reads back each value written,
    and the last one stays, because sql_arrow writes no session conf."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key), spark.conf.get("spark.sql.adaptive.enabled")
    small = ARROW_SLICE[:7]
    readers_done = threading.Event()

    def read(i):
        for j in range(3):
            engine.sql_arrow(small[(i + j) % len(small)])

    def write():
        seen = []
        while not readers_done.is_set() or len(seen) < 20:
            for value in ("5", "7"):
                engine.sql(f"ALTER SESSION SET {key}={value}")
                seen.append((value, engine.sql(f"SET {key}").first()[1]))
        return seen

    try:
        with ThreadPoolExecutor(max_workers=5) as pool:
            writer = pool.submit(write)
            readers = [pool.submit(read, i) for i in range(4)]
            for f in readers:
                f.result(timeout=300)
            readers_done.set()
            seen = writer.result(timeout=300)
        assert all(got == value for value, got in seen), seen
        assert spark.conf.get(key) == "7"
        assert spark.conf.get("spark.sql.adaptive.enabled") == before[1]
    finally:
        spark.conf.set(key, before[0])


def test_concurrent_first_register_all_registers_once(spark, monkeypatch):
    """Four threads calling register_all on a session whose memo was
    discarded: each declared function is registered exactly once, and
    no worker thread of the registration pool outlives the calls."""
    from pyspark.sql import SparkSession
    from pyspark.sql.udf import UDFRegistration

    from heavydb_spark import functions

    names: list[str] = []
    real_sql, real_register = SparkSession.sql, UDFRegistration.register

    def sql(self, text, *a, **kw):
        m = re.match(r"\s*CREATE OR REPLACE TEMPORARY FUNCTION (\w+)", text)
        if m:
            names.append(m[1])
        return real_sql(self, text, *a, **kw)

    def register(self, name, f, *a, **kw):
        names.append(name)
        return real_register(self, name, f, *a, **kw)

    monkeypatch.setattr(SparkSession, "sql", sql)
    monkeypatch.setattr(UDFRegistration, "register", register)
    functions._REGISTERED.discard(spark)
    start = threading.Barrier(4)

    def first_call(_i):
        start.wait()
        functions.register_all(spark)

    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(first_call, range(4), timeout=300))
    finally:
        functions.register_all(spark)
    assert spark in functions._REGISTERED
    assert sorted(names) == sorted(functions.FUNCTIONS)
    assert not [t.name for t in threading.enumerate()
                if t.name.startswith("register_all")]
