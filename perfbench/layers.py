"""Per-layer metrics of a traced run: self times from the spans the
benchmark recorded around its calls into each module, and Spark's
counters per statement from the status store."""

from __future__ import annotations

import os
from dataclasses import asdict

from ingest import KINDS as INGEST_KINDS
from inputs import ANALYTICS_HEADS, BATCH_ROWS, CORPUS_HEADS, layer_of
from spans import covered, read_statement_jobs, self_times
from stats import median

MB = 1e6
LAYER_UNITS = {
    "session.build_s": "s",
    "functions.register_s": "s",
    "catalog.attach_s": "s",
    "catalog.scan_tasks_per_stmt": "count",
    "catalog.scan_input_mb": "MB",
    "dialect.rewrite_ms": "ms",
    "dialect.rewrite_calls_per_stmt": "count",
    "engine.sql_ms": "ms",
    "engine.deliver_ms": "ms",
    "engine.load_table_ms": "ms",
    "engine.update_ms": "ms",
    "engine.delete_ms": "ms",
    "engine.read_after_write_ms": "ms",
    "engine.bytes_written_per_user_byte": "ratio",
    "engine.table_files": "count",
    "engine.rows_ingested_per_s": "rows/s",
    "engine.space_amp": "ratio",
    "sources.copy_from_ms": "ms",
    "sources.copy_from_rows_per_s": "rows/s",
    "exec.jobs_per_stmt": "count",
    "exec.stages_per_stmt": "count",
    "exec.tasks_per_stmt": "count",
    "exec.job_ms": "ms",
    "exec.task_wait_ms": "ms",
    "exec.cpu_util": "ratio",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "exec.warmup_s": "s",
    "exec.peak_rss_mb": "MB",
    "trace.spans_per_stmt": "count",
    "trace.overhead_pct": "%",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ms_of(records, kind: str) -> list[float]:
    return [ms for k, _, ms, ok in records if ok and k == kind]


def collect(bench, phase: dict) -> dict:
    """`phase` holds the traced phase's records, spans, workload wall
    time, the ingest table's space figures and the traced and untraced
    phases' throughput. Per-statement figures cover the workload's reads and
    heads; the write path's come from its ingest statements."""
    records = phase["records"]
    spans = phase["spans"]
    wall_s = phase["elapsed_s"]
    stmts = {stmt: kind for kind, stmt, _, ok in records
             if ok and kind not in INGEST_KINDS}
    selfs = self_times(spans)
    by_id = {s.sid: s for s in spans}
    jobs = read_statement_jobs(bench.spark, sorted(stmts))

    rewrites = [s for s in spans if s.name == "dialect.rewrite"
                and s.stmt in stmts]
    top_rewrites = [s for s in rewrites if s.parent is None
                    or by_id[s.parent].name != "dialect.rewrite"]
    plan_sql = [s for s in spans if s.name == "engine.sql"
                and s.stmt in stmts]
    stmt_spans = [s for s in spans if s.name.startswith("stmt.")
                  and s.stmt in stmts]

    deliver = []
    for s in stmt_spans:
        ivs = [((j["submit_ms"] or 0) / 1000.0 - s.wall_start + s.start,
                (j["end_ms"] or 0) / 1000.0 - s.wall_start + s.start)
               for j in jobs.get(s.stmt, []) if j["submit_ms"] and j["end_ms"]]
        deliver.append((s.duration - covered(ivs, s.start, s.end)) * 1000.0)

    all_jobs = [j for js in jobs.values() for j in js]
    all_stages = [st for j in all_jobs for st in j["stages"]]
    n = max(len(stmts), 1)

    def per_stmt(fn) -> float:
        return sum(fn(st) for st in all_stages) / n

    cores = os.cpu_count() or 1
    space = phase["space"]
    copy_ms = median(_ms_of(records, "copy_from") or [0.0])
    ingest = bench.ingest
    timed_jobs = [j for j in all_jobs if j["end_ms"] and j["submit_ms"]]
    started = [st for st in all_stages
               if st["first_task_ms"] and st["submit_ms"]]
    m = {
        "session.build_s": bench.steps["session.get_spark"],
        "functions.register_s": bench.steps["functions.register_all"],
        "catalog.attach_s": bench.steps["catalog.attach"],
        "catalog.scan_tasks_per_stmt": per_stmt(
            lambda st: st["tasks"] if st["input_bytes"] else 0),
        "catalog.scan_input_mb": per_stmt(lambda st: st["input_bytes"]) / MB,
        "dialect.rewrite_ms": (sum(selfs[s.sid] for s in rewrites) * 1000.0
                               / max(len(top_rewrites), 1)),
        "dialect.rewrite_calls_per_stmt": len(top_rewrites) / n,
        "engine.sql_ms": _mean(selfs[s.sid] * 1000.0 for s in plan_sql),
        "engine.deliver_ms": _mean(deliver),
        "engine.load_table_ms": median(
            _ms_of(records, "load_table") or [0.0]),
        "engine.update_ms": median(_ms_of(records, "update") or [0.0]),
        "engine.delete_ms": median(_ms_of(records, "delete") or [0.0]),
        "engine.read_after_write_ms": median(
            _ms_of(records, "read_after_write") or [0.0]),
        "engine.bytes_written_per_user_byte": (
            ingest.bytes_written / max(ingest.user_bytes, 1)),
        "engine.table_files": float(space["table_files"]),
        "engine.rows_ingested_per_s": (
            ingest.rows_loaded / max(ingest.load_seconds, 1e-9)),
        "engine.space_amp": space["disk_bytes"] / space["live_bytes"],
        "sources.copy_from_ms": copy_ms,
        "sources.copy_from_rows_per_s": (
            BATCH_ROWS / (copy_ms / 1000.0) if copy_ms else 0.0),
        "exec.jobs_per_stmt": len(all_jobs) / n,
        "exec.stages_per_stmt": len(all_stages) / n,
        "exec.tasks_per_stmt": per_stmt(lambda st: st["tasks"]),
        "exec.job_ms": _mean(j["end_ms"] - j["submit_ms"] for j in timed_jobs),
        "exec.task_wait_ms": _mean(
            st["first_task_ms"] - st["submit_ms"] for st in started),
        "exec.cpu_util": (sum(st["run_ms"] for st in all_stages)
                          / (wall_s * 1000.0 * cores)),
        "exec.task_cpu_s": per_stmt(lambda st: st["cpu_ns"]) / 1e9,
        "exec.shuffle_write_mb": per_stmt(
            lambda st: st["shuffle_write_bytes"]) / MB,
        "exec.shuffle_read_mb": per_stmt(
            lambda st: st["shuffle_read_bytes"]) / MB,
        "exec.spill_mb": sum(st["spill_bytes"] for st in all_stages) / MB,
        "exec.gc_s": sum(st["gc_ms"] for st in all_stages) / 1000.0,
        "exec.failed_tasks": float(
            sum(st["failed_tasks"] for st in all_stages)),
        "exec.warmup_s": bench.steps["exec.warmup"],
        "trace.spans_per_stmt": sum(s.stmt in stmts for s in spans) / n,
        "trace.overhead_pct": 100.0 * (
            phase["untraced_ops_per_s"] / phase["ops_per_s"] - 1.0),
    }

    detail = {}
    for head in (*ANALYTICS_HEADS, *CORPUS_HEADS):
        layer = layer_of(head)
        hs = [s for s in spans if s.name == f"{layer}.{head}"
              and s.stmt in stmts]
        if hs:
            detail[f"{layer}.{head}_ms"] = median(
                [s.duration * 1000.0 for s in hs])
            detail[f"{layer}.{head}_self_ms"] = median(
                [selfs[s.sid] * 1000.0 for s in hs])
    return {
        "metrics": m,
        "detail": detail,
        "trace": {
            "spans": [asdict(s) for s in spans],
            "statements": stmts,
            "jobs": jobs,
        },
    }
