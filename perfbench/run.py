#!/usr/bin/env python3
"""The repository benchmark: one workload per run against the public
heavydb_spark API, from the root of a checkout.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Prints a human report on stderr and, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from spans the
benchmark records around its own calls into each layer plus Spark's
status store. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
from stats import (MachineContext, cpu_seconds, median,  # noqa: E402
                   peak_rss_mb, percentile, resolvable, steal_jiffies)
from spans import Tracer  # noqa: E402

WORKLOADS = ("dashboard", "batch")
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_ops": "ops/s",
}
DRIVER_MEMORY = "4g"  # well below the RAM of a small box
# Spark's task slots: half the cores, so tasks, the interpreter, GC and
# the gateway do not queue for the same cores
SPARK_CORES = max((os.cpu_count() or 1) // 2, 1)
# The JVM's quick compiler only: with the optimising one too, statements
# kept speeding up for minutes (dashboard latency fell by 40% over a
# 40-s window), so each run timed how far compilation had got, which
# moves with every other tenant of the machine. With the quick one
# alone, latency is flat after the warm-up
JIT_OPTS = "-XX:TieredStopAtLevel=1"
MAX_REPORTED_FAILURES = 10


def _descendants(pid: int) -> set[int]:
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parents[int(name)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parents.items() if p in frontier} - out
        out |= frontier
    return out


class Bench:
    """One run: its private directories, the session and engine, the
    tracer, and every statement's record."""

    def __init__(self, workload: str, seed: int, traced: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.tracer = Tracer(traced)
        self.run_dir = tempfile.mkdtemp(
            prefix=f"{workload}-{seed}-", dir=os.path.join(ROOT, ".perfbench"))
        self.data_dir = os.path.join(self.run_dir, "data")
        self.warehouse = os.path.join(self.run_dir, "warehouse")
        self.tables = datagen.TABLES
        self.spark = None
        self.engine = None
        self.jvm_pid = None
        self.records: list[tuple] = []  # (kind, stmt_id, ms, ok)
        self.recording = False
        self.failed = 0
        self.checked = 0
        self.steps: dict[str, float] = {}
        self.ingest = None
        self._restore: list = []
        self._ids = itertools.count()
        self._pin_environment()

    # -- environment -------------------------------------------------
    def _pin_environment(self) -> None:
        """Cores, memory and every scratch path of Spark, the JVM and
        Python go to this run's own directory."""
        tmp = os.path.join(self.run_dir, "tmp")
        local = os.path.join(self.run_dir, "local")
        for d in (tmp, local, self.warehouse):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # the launcher JVM that spark-submit starts before the driver
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        tempfile.tempdir = None
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={os.path.join(self.run_dir, 'derby')} "
                f"-XX:-UsePerfData {JIT_OPTS}"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            # keep every job and stage of the run in the status store
            self.conf["spark.ui.retainedJobs"] = "100000"
            self.conf["spark.ui.retainedStages"] = "100000"

    # -- statements ----------------------------------------------------
    def _run(self, kind: str, fn):
        stmt = f"{kind}-{next(self._ids)}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(stmt, kind, False)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"stmt.{kind}", stmt=stmt):
                out = fn()
            ok = True
        except Exception:
            out, ok = None, False
            self.fail(kind, traceback.format_exc(limit=3))
        ms = (time.perf_counter() - t0) * 1000.0
        if self.recording:
            self.records.append((kind, stmt, ms, ok))
        return out, ms, ok

    def statement(self, kind: str, fn):
        """Run one timed statement; its result, or None if it raised."""
        return self._run(kind, fn)[0]

    def timed_statement(self, kind: str, fn):
        """Run one timed statement; its latency in ms, or None."""
        _, ms, ok = self._run(kind, fn)
        return ms if ok else None

    def fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        if self.failed <= MAX_REPORTED_FAILURES:
            print(f"# FAILED {kind}: {msg.strip()}", file=sys.stderr)

    def step(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.steps[name] = time.perf_counter() - t0
        return out

    # -- set-up and tear-down -----------------------------------------
    def open(self) -> None:
        """Import, build the session, register functions, construct the
        engine and attach the generated tables."""
        from heavydb_spark import dialect, functions
        from heavydb_spark.engine import Engine
        from heavydb_spark.session import get_spark

        if self.traced:
            for owner, attr, name in (
                (dialect, "rewrite", "dialect.rewrite"),
                (Engine, "sql", "engine.sql"),
                (Engine, "sql_arrow", "engine.sql_arrow"),
                (Engine, "load_table", "engine.load_table"),
            ):
                self._restore.append(self.tracer.wrap(owner, attr, name))
        self.spark = self.step("session.get_spark", lambda: get_spark(
            app_name=f"perfbench-{self.workload}", extra_conf=self.conf))
        self.spark.sparkContext.setLogLevel("FATAL")
        self.jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.step("functions.register_all",
                  lambda: functions.register_all(self.spark))
        self.engine = self.step("engine.init", lambda: Engine(self.spark))
        self.step("catalog.attach", lambda: self.engine.attach(self.data_dir))

    def close(self) -> None:
        """Stop Spark and wait for the JVM and its workers to end."""
        for restore in reversed(self._restore):
            restore()
        children = _descendants(os.getpid())
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc(file=sys.stderr)
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = {p for p in children if os.path.exists(f"/proc/{p}")}
            if not alive:
                break
            time.sleep(0.1)
        for p in children:
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass

    def memory_mb(self) -> float:
        return peak_rss_mb(self.jvm_pid)


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    ctx = MachineContext()
    bench = Bench(workload, seed, traced)
    import batch
    import dashboard
    from ingest import Ingest

    # inputs and oracle answers are made before the set-up clock starts
    datagen.write(bench.data_dir, seed,
                  dashboard.SF if workload == "dashboard" else batch.SF)
    csv_dir = os.path.join(bench.run_dir, "csv")
    cycles = inputs.ingest_cycles(seed, csv_dir)
    initial = inputs.initial_cycle(seed, csv_dir)
    if workload == "batch":
        answers = batch.oracle_answers(bench.data_dir, bench.tables)
    space = layer = None

    try:
        t_setup = time.perf_counter()
        bench.open()
        if workload == "dashboard":
            bench.step("exec.warmup", lambda: dashboard.warm_up(bench))
        else:
            first = bench.step("exec.warmup", lambda: batch.warm_up(bench))
        setup_s = time.perf_counter() - t_setup

        def phase() -> dict:
            bench.records = []
            bench.recording = True
            # context for a contaminated run, not metrics: CPU time of
            # this process and the JVM, and time stolen from the VM
            c0 = cpu_seconds([os.getpid(), bench.jvm_pid])
            st0 = steal_jiffies()
            if workload == "dashboard":
                info = dashboard.measure(bench, seconds)
            else:
                info = batch.measure(bench, seconds, first)
            info["cpu_s"] = cpu_seconds([os.getpid(), bench.jvm_pid]) - c0
            info["steal_s"] = ((steal_jiffies() - st0)
                               / os.sysconf("SC_CLK_TCK"))
            bench.recording = False
            info["ops"] = sum(1 for r in bench.records if r[3])
            return info

        if traced:
            # an untraced phase first, so the run reports its own
            # tracing overhead
            bench.traced = bench.tracer.enabled = False
            info = phase()
            untraced_rate = info["ops_per_s"]
            bench.traced = bench.tracer.enabled = True
        info = phase()
        records = list(bench.records)
        if workload == "batch":
            batch.check(bench, answers, first)
        if traced:
            # the write path, after the workload, one statement at a
            # time: its per-layer metrics exist on both workloads
            ingest = bench.ingest = Ingest(bench, cycles)
            bench.step("engine.ingest_create", lambda: ingest.create(initial))
            bench.recording = True
            for _ in range(inputs.TRACED_CYCLES):
                ingest.run_cycle()
            bench.recording = False
            final = ingest.final_check()
            bench.checked += 1
            if final is not None:
                bench.fail("ingest_final", final)
            space = ingest.space()
            layer = layers.collect(bench, {
                "records": bench.records, "spans": bench.tracer.spans,
                "elapsed_s": info["elapsed_s"], "space": space,
                "ops_per_s": info["ops_per_s"],
                "untraced_ops_per_s": untraced_rate})
            layer["metrics"]["exec.peak_rss_mb"] = bench.memory_mb()
        memory = bench.memory_mb()
    finally:
        bench.close()
        shutil.rmtree(bench.run_dir, ignore_errors=True)

    lat = [ms for _, _, ms, ok in records if ok]
    timed: dict[str, list[float]] = {}
    for kind, _, ms, ok in records:
        if ok:
            timed.setdefault(kind, []).append(ms)
    # the mean over statement kinds of each kind's median: the kinds
    # differ in latency by up to tenfold, so a median over all of them
    # is whichever kind lands in the middle, and moves as the mix does
    kind_p50 = [median(v) for v in timed.values()]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": sum(kind_p50) / len(kind_p50),
        "throughput_ops": info["ops_per_s"],
    }
    attempted = len(bench.records)
    by_kind: dict[str, list[float]] = {}
    for kind, _, ms, ok in bench.records:
        if ok:
            by_kind.setdefault(kind, []).append(ms)
    report = {
        "workload": workload, "seed": seed, "traced": traced,
        "latency_samples": len(lat),
        "latency_p90_ms": percentile(lat, 90.0),
        "p90_resolvable": resolvable(len(lat), 90.0),
        "peak_rss_mb": memory,
        "error_ratio": bench.failed / max(attempted, 1),
        "checked": bench.checked,
        "steps_s": bench.steps, **info,
        "op_ms": {k: round(median(v), 1) for k, v in by_kind.items()},
        "latencies_ms": {k: [round(ms, 1) for ms in v]
                         for k, v in by_kind.items()},
        "machine": ctx.finish(),
    }
    if traced:
        report["ingest"] = {
            "rows_ingested_per_s": ingest.rows_loaded / ingest.load_seconds,
            "space_amp": space["disk_bytes"] / space["live_bytes"],
            "rows_loaded": ingest.rows_loaded,
            "bytes_written": ingest.bytes_written, **space}
    return {"e2e": e2e, "layer": layer, "report": report,
            "attempted": attempted, "failed": bench.failed}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if importlib.util.find_spec("heavydb_spark") is None:
        print("perfbench: heavydb_spark is not importable from "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    metrics = out["layer"]["metrics"] if args.trace else out["e2e"]
    units = layers.LAYER_UNITS if args.trace else E2E_UNITS
    for name, value in metrics.items():
        print(f"# {name}: {value:.6g} {units[name]}", file=sys.stderr)
    print("# " + json.dumps(out["report"], default=str), file=sys.stderr)
    if args.trace:
        path = os.path.join(
            ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(out["layer"]["trace"], fh)
        for name, value in out["layer"]["detail"].items():
            print(f"# {name}: {value:.6g}", file=sys.stderr)
        print(f"# spans and Spark counters written to {path}",
              file=sys.stderr)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
