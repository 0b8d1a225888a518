"""`batch`: closed loop, one client. Each pass runs every analytics
head (the `queries` DataFrame builders: scans, joins, aggregates,
shuffles) and every corpus head (the `operators` pipelines: explodes,
shingle hashing, LSH banding), each executing its full plan, in a
seeded order. Passes are whole, so every run measures the same mix."""

from __future__ import annotations

import time

import duckdb

import inputs
from checks import close_rows
from stats import median

SF = 0.02  # a pass takes a few seconds, so a run times several
# a head's oracle rounds like the head; a value on an exact rounding
# half may land one unit of the last kept digit apart in each engine
ROUNDING_TOL = 1e-3
WARM_PASSES = 1


def run_head(bench, head: str):
    """Build the head's plan and execute all of it: an Observation
    (row count + hash of every output column) over a noop sink keeps
    Catalyst from pruning any operator, with no driver-side collect."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from heavydb_spark.queries import QUERIES

    with bench.tracer.span(f"{inputs.layer_of(head)}.{head}"):
        out = QUERIES[head](bench.spark, bench.data_dir)
        obs = Observation()
        out.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash(*out.columns).cast("long")).alias("h"),
        ).write.format("noop").mode("overwrite").save()
        got = obs.get
    return got["n"], got["h"]


def oracle_answers(data_dir: str, tables) -> dict[str, tuple]:
    """The catalog's DuckDB oracle of every head that has one, as
    (columns, rows), over the run's parquet files. Computed before the
    set-up clock starts: the oracles are not the program."""
    from heavydb_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
        answers = {}
        for head in (*inputs.ANALYTICS_HEADS, *inputs.CORPUS_HEADS):
            if head in ORACLES:
                rel = con.sql(ORACLES[head])
                answers[head] = (rel.columns, rel.fetchall())
        return answers
    finally:
        con.close()


def warm_up(bench) -> dict[str, tuple]:
    """Every head once, cold, in the form the timed passes run it, then
    WARM_PASSES more passes: the first pass after the cold one is still
    slower than the ones after it. Returns each head's (row count,
    column hash)."""
    heads = (*inputs.ANALYTICS_HEADS, *inputs.CORPUS_HEADS)
    first = {head: run_head(bench, head) for head in heads}
    for _ in range(WARM_PASSES):
        for head in heads:
            run_head(bench, head)
    return first


def measure(bench, seconds: float, first: dict[str, tuple]) -> dict:
    """Whole passes, as many as bring the measured time closest to
    `seconds` (at least one), so every run measures the same mix. Each
    execution must repeat the warm-up's row count and column hash."""
    t0 = time.perf_counter()
    passes = 0
    last = 0.0
    pass_s = []
    while passes == 0 or time.perf_counter() - t0 + last / 2 < seconds:
        p0 = time.perf_counter()
        for op in inputs.pass_order(bench.seed, passes):
            res = bench.statement(op, lambda op=op: run_head(bench, op))
            if res is not None and res != first[op]:
                bench.fail(op, f"result {res} differs from {first[op]}")
        last = time.perf_counter() - p0
        pass_s.append(last)
        passes += 1
    heads = len(inputs.ANALYTICS_HEADS) + len(inputs.CORPUS_HEADS)
    # the client's rate over its median pass
    return {"elapsed_s": time.perf_counter() - t0, "passes": passes,
            "ops_per_s": heads / median(pass_s), "pass_s": pass_s}


def check(bench, answers: dict[str, tuple], first: dict[str, tuple]) -> None:
    """After the timed passes: every head collected and compared with
    its oracle answer (row count only where the catalog has none)."""
    from heavydb_spark.queries import QUERIES

    for head in (*inputs.ANALYTICS_HEADS, *inputs.CORPUS_HEADS):
        sdf = QUERIES[head](bench.spark, bench.data_dir)
        rows = [tuple(r) for r in sdf.collect()]
        bench.checked += 1
        if len(rows) != first[head][0]:
            bench.fail(head, f"{len(rows)} rows collected, "
                             f"{first[head][0]} counted")
        elif head in answers:
            cols, want = answers[head]
            diff = close_rows(sdf.columns, rows, cols, want,
                              rel=1e-7, abs_tol=ROUNDING_TOL)
            if diff is not None:
                bench.fail(head, diff)
