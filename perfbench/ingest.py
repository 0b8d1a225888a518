"""The write path: seeded ingest cycles against a managed table, with
a DuckDB model of the table kept in step to check every read."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from checks import arrow_rows, close_rows
from inputs import (INGEST_DDL, INGEST_READ, INGEST_SCHEMA, INGEST_TABLE,
                    Cycle)

# statement kinds of a cycle
KINDS = ("load_table", "copy_from", "update", "delete", "read_after_write")


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # swapped away between listing and stat
                pass
    return out


class Ingest:
    """Runs ingest cycles through `bench.statement`, one client. Every
    write is followed by a read of the table, checked against the
    model."""

    def __init__(self, bench, cycles: list[Cycle]) -> None:
        self.bench = bench
        self.cycles = cycles
        self.next_cycle = 0
        self.model = duckdb.connect()
        self.model.sql(
            f"CREATE TABLE {INGEST_TABLE} (id BIGINT, user_id BIGINT, "
            "kind VARCHAR, amount DOUBLE, ts TIMESTAMP)")
        self.user_bytes = 0
        self.bytes_written = 0
        self.rows_loaded = 0
        self.load_seconds = 0.0
        self._seen = _files(bench.warehouse)

    def create(self, initial: Cycle) -> None:
        """Create the table and run the set-up cycle; the counters then
        start from zero."""
        self.bench.engine.sql(INGEST_DDL)
        self._apply(initial)
        self.user_bytes = self.bytes_written = self.rows_loaded = 0
        self.load_seconds = 0.0
        self._seen = _files(self.bench.warehouse)

    def _model_insert(self, rows: pa.Table) -> None:
        self.model.register("batch_rows", rows)
        self.model.sql(f"INSERT INTO {INGEST_TABLE} SELECT * FROM batch_rows")
        self.model.unregister("batch_rows")

    def _account_write(self) -> None:
        now = _files(self.bench.warehouse)
        self.bytes_written += sum(
            s for p, s in now.items() if self._seen.get(p) != s)
        self._seen = now

    def _read(self) -> None:
        eng, model = self.bench.engine, self.model
        res = self.bench.statement(
            "read_after_write", lambda: eng.sql_arrow(INGEST_READ))
        if res is None:
            return
        want = model.sql(INGEST_READ)
        diff = close_rows(res.column_names, arrow_rows(res),
                          want.columns, want.fetchall())
        if diff is not None:
            self.bench.fail("read_after_write", diff)

    def run_cycle(self) -> None:
        self._apply(self.cycles[self.next_cycle % len(self.cycles)])
        self.next_cycle += 1

    def _apply(self, c: Cycle) -> None:
        """Append, COPY, UPDATE, DELETE; read the table after each."""
        eng, model = self.bench.engine, self.model

        for kind, call, rows in (
            ("load_table", lambda: eng.load_table(INGEST_TABLE, c.batch),
             c.batch),
            ("copy_from",
             lambda: eng.sql(f"COPY {INGEST_TABLE} FROM '{c.csv_path}' "
                             "WITH (header='true')").collect(),
             c.csv_rows),
        ):
            ms = self.bench.timed_statement(kind, call)
            if ms is not None:
                self._model_insert(rows)
                self.rows_loaded += rows.num_rows
                self.load_seconds += ms / 1000.0
                self.user_bytes += rows.nbytes
            self._account_write()
            self._read()

        for kind, sql in (("update", c.update_sql), ("delete", c.delete_sql)):
            ms = self.bench.timed_statement(
                kind, lambda sql=sql: eng.sql(sql).collect())
            if ms is not None:
                model.sql(sql)
            self._account_write()
            self._read()

    def final_check(self) -> str | None:
        """The table's full contents against the model."""
        got = self.bench.engine.sql_arrow(
            f"SELECT * FROM {INGEST_TABLE}").cast(INGEST_SCHEMA)
        want = self.model.sql(f"SELECT * FROM {INGEST_TABLE}").arrow() \
            .cast(INGEST_SCHEMA)
        return close_rows(got.column_names, arrow_rows(got),
                          want.column_names, arrow_rows(want))

    def space(self) -> dict:
        """Disk bytes and files of the warehouse against the Arrow size
        of the table's live rows."""
        files = _files(self.bench.warehouse)
        data = [p for p in files if p.endswith(".parquet")]
        live = self.bench.engine.sql_arrow(f"SELECT * FROM {INGEST_TABLE}")
        return {
            "disk_bytes": sum(files.values()),
            "table_files": len(data),
            "live_bytes": live.nbytes,
            "live_rows": live.num_rows,
        }

