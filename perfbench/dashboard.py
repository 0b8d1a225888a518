"""`dashboard`: closed loop, CLIENTS client threads sharing one Engine,
issuing HeavyDB-dialect SELECTs through Engine.sql_arrow over small
tables: per-statement cost dominates."""

from __future__ import annotations

import threading
import time

import duckdb
import numpy as np

import inputs
from checks import arrow_rows, close_rows
from stats import median

SF = 0.01
# One client: with more, a statement's latency is mostly the time it
# waits for the others' Spark tasks and interpreter slices, which moved
# the median by a quarter between runs of the same code
CLIENTS = 1
STREAM_LENGTH = 5000  # statements per client; a run uses a few hundred
TWIN_SAMPLE = 32  # distinct statement texts checked against DuckDB
# Warm-up blocks per client after every template has run once. A fixed
# count, not a time: a time-boxed warm-up leaves a run on a slow host
# less warm, and latency still falls by a tenth over the first blocks
WARMUP_BLOCKS = 3


def warm_up(bench) -> None:
    """Every template once, dealt round the clients so that all of them
    run before any timing, then WARMUP_BLOCKS blocks per client on
    streams of their own."""
    (once,) = inputs.dashboard_streams(
        bench.seed, SF, 1, len(inputs.TEMPLATES), key=2)
    streams = inputs.dashboard_streams(
        bench.seed, SF, CLIENTS, WARMUP_BLOCKS * len(inputs.TEMPLATES),
        key=1)
    _drive(bench, [once[c::CLIENTS] + s for c, s in enumerate(streams)],
           float("inf"))


def measure(bench, seconds: float) -> dict:
    results, twins, elapsed, blocks = _drive(bench, inputs.dashboard_streams(
        bench.seed, SF, CLIENTS, STREAM_LENGTH), seconds)
    check_twins(bench, results, twins)
    # each client's rate over its median block, summed over clients
    rate = sum(len(inputs.TEMPLATES) / median(b) for b in blocks if b)
    return {"elapsed_s": elapsed, "distinct_texts": len(results),
            "ops_per_s": rate, "block_s": blocks}


def _drive(bench, streams, seconds: float):
    """One thread per stream, each a closed loop that stops at the first
    block boundary (every template once per block) after `seconds`
    pass, so every run times the same template mix; returns the first
    result of every text, its twin, the wall time until the last client
    stopped, and each client's block durations in seconds."""
    results: dict[str, object] = {}
    twins: dict[str, str] = {}
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    errors: list[BaseException] = []
    blocks: list[list[float]] = [[] for _ in streams]

    def client(stream, durations):
        try:
            b0 = time.perf_counter()
            for i, st in enumerate(stream):
                if i and i % len(inputs.TEMPLATES) == 0:
                    now = time.perf_counter()
                    durations.append(now - b0)
                    if now >= deadline:
                        return
                    b0 = now
                res = bench.statement(
                    f"select.{st.template}",
                    lambda t=st.heavy: bench.engine.sql_arrow(t))
                if res is None:
                    continue
                with lock:
                    first = results.setdefault(st.heavy, res)
                    twins[st.heavy] = st.twin
                if first is not res and not res.equals(first):
                    bench.fail("select", f"repeat differs: {st.heavy}")
        except BaseException as exc:  # surfaced after join
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(s, d))
               for s, d in zip(streams, blocks)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results, twins, time.perf_counter() - t0, blocks


def check_twins(bench, results: dict, twins: dict) -> None:
    """A seeded sample of distinct statement texts against their
    standard-SQL twins in DuckDB over the same parquet."""
    con = duckdb.connect()
    for t in bench.tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{bench.data_dir}/{t}.parquet'")
    texts = sorted(results)
    rng = np.random.default_rng([bench.seed, 6])
    pick = rng.choice(len(texts), size=min(TWIN_SAMPLE, len(texts)),
                      replace=False)
    for i in sorted(pick):
        text = texts[i]
        got = results[text]
        want = con.sql(twins[text])
        diff = close_rows(got.column_names, arrow_rows(got),
                          want.columns, want.fetchall())
        bench.checked += 1
        if diff is not None:
            bench.fail("select", f"{diff}: {text}")
    con.close()
