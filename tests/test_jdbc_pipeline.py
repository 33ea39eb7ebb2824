"""End-to-end §3.2 into a live RDBMS: change stream → LWW compaction →
JDBC upsert/delete sink with mid-stream schema evolution.

This is the reference's materialization path (README.md:775-798:
Connect JDBC sink with insert.mode=upsert, delete.enabled=true,
auto.evolve=true) run for real: a file change-feed drives foreachBatch,
each micro-batch is compacted per key, the sink table is ALTERed when
the batch carries new columns, and tombstones delete. SQLite plays
Postgres (same ON CONFLICT dialect family)."""

from __future__ import annotations

import sqlite3

from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.cdc.materialize import latest_state
from olr_cdc_oracle_no_dbz_spark.streaming.jdbc_sink import (
    evolve_statements,
    write_batch,
)
from tests.conftest import write_tx_file


def test_change_stream_to_jdbc_sink_with_evolution(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    db_path = str(tmp_path / "sink.db")
    with sqlite3.connect(db_path) as db:
        db.execute(
            "CREATE TABLE products (id INT PRIMARY KEY, stock INT, scn INT, "
            "seq INT)"
        )


    def factory():
        return sqlite3.connect(db_path, timeout=60)

    def apply_batch(batch_df, _bid):
        if batch_df.isEmpty():
            return
        compacted = latest_state(batch_df).withColumn(
            "__deleted", F.col("op") == "d"
        ).drop("op")
        # auto.evolve: ALTER before writing if the batch grew columns
        with sqlite3.connect(db_path, timeout=60) as db:
            current = [r[1] for r in db.execute("PRAGMA table_info(products)")]
            for stmt in evolve_statements(
                "products", current, compacted.schema
            ):
                db.execute(stmt)
        write_batch(compacted, factory, "products", ["id"])

    def drain(schema):
        # the envelope schema is re-derived per run (the schema:7 /
        # infer_evolved_schema contract) — run 2 sees the widened one
        stream = spark.readStream.schema(schema).json(src)
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two inserts + an update winning by (scn, seq)
    write_tx_file(
        src,
        "b1.json",
        [
            '{"id": 1, "stock": 5, "scn": 100, "seq": 1, "op": "c"}',
            '{"id": 2, "stock": 7, "scn": 100, "seq": 2, "op": "c"}',
            '{"id": 1, "stock": 6, "scn": 101, "seq": 1, "op": "u"}',
        ],
    )
    drain("id int, stock int, scn long, seq long, op string")
    with sqlite3.connect(db_path) as db:
        cols = [r[1] for r in db.execute("PRAGMA table_info(products)")]
        got = db.execute(
            "SELECT id, stock FROM products ORDER BY id"
        ).fetchall()
    assert got == [(1, 6), (2, 7)]
    assert "color" not in cols  # nothing evolved yet

    # batch 2: a NEW column appears (color), one delete tombstone
    write_tx_file(
        src,
        "b2.json",
        [
            '{"id": 3, "stock": 9, "color": "blue", "scn": 102, "seq": 1, "op": "c"}',
            '{"id": 2, "scn": 103, "seq": 1, "op": "d"}',
        ],
    )
    drain("id int, stock int, color string, scn long, seq long, op string")
    with sqlite3.connect(db_path) as db:
        got = db.execute(
            "SELECT id, stock, color FROM products ORDER BY id"
        ).fetchall()
    # id=1 predates the color column -> NULL; id=2 deleted; id=3 evolved
    assert got == [(1, 6, None), (3, 9, "blue")]


def test_materialize_stream_with_jdbc_mirror(spark, tmp_path):
    """The full configured path with the reference's literal sink: one
    materialize_stream call keeps the parquet state AND mirrors every
    compacted batch into an RDBMS (upsert + tombstone delete), through
    the same insert→update→delete protocol the reference documents."""
    from olr_cdc_oracle_no_dbz_spark.streaming import (
        ParquetStateTable,
        materialize_stream,
    )
    from tests.conftest import event, product_row, write_tx_file

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    db_path = str(tmp_path / "mirror.db")
    with sqlite3.connect(db_path) as db:
        db.execute(
            "CREATE TABLE products (id INT PRIMARY KEY, name VARCHAR(100),"
            " description VARCHAR(500), price VARCHAR(20), stock INT,"
            " created_date VARCHAR(30), updated_date VARCHAR(30),"
            " __deleted_marker INT DEFAULT 0)"
        )

    # sqlite3 has no native Decimal binding (psycopg2 does); adapt via
    # str — the DECIMAL column round-trips as its exact text form
    import decimal

    sqlite3.register_adapter(decimal.Decimal, str)

    def factory():
        return sqlite3.connect(db_path, timeout=60)

    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1 = product_row(1, "Test Product", "99.99", 10)
    r2 = product_row(2, "Other", "5.00", 3)
    write_tx_file(src, "tx1.json", [event(100, "c", after=r1)])
    write_tx_file(src, "tx2.json", [event(101, "c", after=r2)])
    write_tx_file(
        src, "tx3.json", [event(200, "u", before=r1, after=dict(r1, stock=77))]
    )
    write_tx_file(src, "tx4.json", [event(300, "d", before=dict(r1, stock=77))])
    q = materialize_stream(
        spark,
        src,
        state,
        ckpt,
        jdbc_sink={"connection_factory": factory, "table": "products"},
    )
    q.awaitTermination(120)

    # parquet state and the RDBMS mirror agree: only id=2 lives
    assert {r["id"] for r in state.current().collect()} == {2}
    with sqlite3.connect(db_path) as db:
        got = db.execute("SELECT id, stock FROM products").fetchall()
        cols = {r[1] for r in db.execute("PRAGMA table_info(products)")}
    assert got == [(2, 3)]
    # the mirror carries the row image only: auto-evolve added none of
    # the engine's bookkeeping columns (op, __deleted, scn, seq)
    assert not cols & {"op", "__deleted", "scn", "seq"}, cols
