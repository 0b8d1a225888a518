"""One seed drives every input, and the same seed gives byte-identical
statements, rows and files."""

import io
import os

import pyarrow.parquet as pq

import datagen
import inputs


def parquet_bytes(table):
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_tables_are_byte_identical_for_a_seed():
    a, b = datagen.tables(7, 0.001), datagen.tables(7, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert parquet_bytes(a[name]) == parquet_bytes(b[name]), name
    c = datagen.tables(8, 0.001)
    assert parquet_bytes(a["lineitem"]) != parquet_bytes(c["lineitem"])


def test_tables_match_fixture_schemas():
    t = datagen.tables(1, 0.001)
    assert tuple(t) == datagen.TABLES
    assert t["lineitem"].num_rows == 6000
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"
    docs = t["documents"].to_pydict()
    assert docs["n_chars"] == [len(x) for x in docs["text"]]


def test_dashboard_streams_repeat_for_a_seed():
    a = inputs.dashboard_streams(3, 0.01, clients=3, length=200)
    b = inputs.dashboard_streams(3, 0.01, clients=3, length=200)
    assert a == b
    assert a != inputs.dashboard_streams(4, 0.01, clients=3, length=200)
    assert a != inputs.dashboard_streams(3, 0.01, clients=3, length=200, key=1)
    texts = [s.heavy for s in a[0]]
    assert len(set(texts)) < len(texts)  # Zipf pools repeat texts
    k = len(inputs.TEMPLATES)
    for block in range(0, 200 - k + 1, k):  # every template once per block
        assert {s.template for s in a[0][block:block + k]} == \
            {t.name for t in inputs.TEMPLATES}


def test_ingest_cycles_repeat_for_a_seed(tmp_path):
    a = inputs.ingest_cycles(5, str(tmp_path / "a"))
    b = inputs.ingest_cycles(5, str(tmp_path / "b"))
    for x, y in zip(a, b):
        assert x.batch.equals(y.batch)
        assert x.update_sql == y.update_sql and x.delete_sql == y.delete_sql
        with open(x.csv_path, "rb") as fx, open(y.csv_path, "rb") as fy:
            assert fx.read() == fy.read()
    ids = [c.batch.column("id").to_pylist()[0] for c in a]
    assert ids == sorted(set(ids))  # every cycle appends new ids
    first = inputs.initial_cycle(5, str(tmp_path / "a"))
    assert first.batch.equals(inputs.initial_cycle(5, str(tmp_path / "b")).batch)
    assert max(first.csv_rows.column("id").to_pylist()) < ids[0]
    assert os.path.basename(a[0].csv_path) == "cycle000.csv"


def test_pass_order_is_seeded_and_complete():
    order = inputs.pass_order(9, 0)
    assert order == inputs.pass_order(9, 0)
    assert sorted(order) == sorted([*inputs.ANALYTICS_HEADS,
                                    *inputs.CORPUS_HEADS])
