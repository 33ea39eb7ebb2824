"""Versioned schema catalog: subject versions on disk + the backward-
compatibility gate in front of streaming schema evolution (VERDICT r6
item 5 — the Schema Registry + auto.evolve analog,
docker-compose-main.yml:179-202, README.md:787)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from olr_cdc_oracle_no_dbz_spark.schema_catalog import (
    SchemaCatalog,
    SchemaCompatibilityError,
    backward_problems,
    evolve_struct,
)


import re

_TYPES = {
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "string": T.StringType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "array<int>": T.ArrayType(T.IntegerType()),
}


def _st(ddl: str) -> T.StructType:
    """Tiny DDL parser so the pure-unit tests need no SparkSession
    (StructType.fromDDL requires a live context)."""
    fields = []
    for part in re.split(r",(?![^()<>]*[)>])", ddl):
        name, typ = part.strip().split(" ", 1)
        typ = typ.strip()
        m = re.fullmatch(r"decimal\((\d+),(\d+)\)", typ)
        dt = T.DecimalType(int(m.group(1)), int(m.group(2))) if m else _TYPES[typ]
        fields.append(T.StructField(name, dt, True))
    return T.StructType(fields)


def test_register_versions_and_files(tmp_path):
    cat = SchemaCatalog(str(tmp_path / "schemas"))
    v1 = cat.register("products", _st("id int, stock int"))
    assert v1 == 1
    # identical re-registration is a no-op (foreachBatch retry)
    assert cat.register("products", _st("id int, stock int")) == 1
    v2 = cat.register("products", _st("id int, stock int, color string"))
    assert v2 == 2
    d = tmp_path / "schemas" / "products"
    assert sorted(os.listdir(d)) == [
        "v1.avsc", "v1.spark.json", "v2.avsc", "v2.spark.json"
    ]
    # the avsc is real Avro JSON naming the subject
    avsc = json.loads((d / "v2.avsc").read_text())
    assert avsc["type"] == "record"
    assert [f["name"] for f in avsc["fields"]] == ["id", "stock", "color"]
    # round-trip the exact StructType
    assert cat.get("products", 2) == _st("id int, stock int, color string")
    assert cat.latest("products") == (2, _st("id int, stock int, color string"))


def test_widening_accepted_narrowing_refused(tmp_path):
    cat = SchemaCatalog(str(tmp_path))
    cat.register("s", _st("id int, price decimal(10,2)"))
    # numeric widening + decimal widening: new version
    assert cat.register("s", _st("id bigint, price decimal(12,2)")) == 2
    # narrowing refused, nothing written
    with pytest.raises(SchemaCompatibilityError, match="narrowed"):
        cat.register("s", _st("id int, price decimal(12,2)"))
    assert cat.versions("s") == [1, 2]


def test_drop_and_unrelated_change_refused(tmp_path):
    cat = SchemaCatalog(str(tmp_path))
    cat.register("s", _st("id int, name string"))
    with pytest.raises(SchemaCompatibilityError, match="dropped"):
        cat.register("s", _st("id int"))
    with pytest.raises(SchemaCompatibilityError, match="cannot widen"):
        cat.register("s", _st("id int, name array<int>"))


def test_backward_problems_nullable_rule():
    old = _st("id int")
    new = T.StructType(
        [
            T.StructField("id", T.IntegerType(), True),
            T.StructField("flag", T.BooleanType(), False),
        ]
    )
    assert backward_problems(old, new) == ["new column 'flag' must be nullable"]


def test_evolve_struct_is_align_schemas_target():
    old = _st("id int, price decimal(10,2), name string")
    new = _st("id bigint, price decimal(8,4), extra double")
    got = evolve_struct(old, new)
    # id widens, price takes max-int-digits+max-scale, name retained,
    # extra appended — the _align_schemas target as a StructType
    assert got == _st(
        "id bigint, price decimal(12,4), name string, extra double"
    )


def test_check_and_register_batch_flow(tmp_path):
    """The per-batch call: a delta that re-sends known columns is a
    no-op; a widened/extended delta registers the SUPERSET (old columns
    retained); an unrelated type change raises before the caller
    touches state."""
    cat = SchemaCatalog(str(tmp_path))
    cat.register("s", _st("id int, stock int"))
    assert cat.check_and_register("s", _st("id int, stock int")) == 1
    # delta missing `stock` but adding `color`: superset registered
    assert cat.check_and_register("s", _st("id int, color string")) == 2
    assert cat.latest("s")[1] == _st("id int, stock int, color string")
    with pytest.raises(SchemaCompatibilityError):
        cat.check_and_register("s", _st("id array<int>"))


def test_materialize_stream_registers_and_refuses(spark, tmp_path):
    """End-to-end: the streaming pipeline writes subject versions as the
    feed evolves, and an incompatible evolution fails the batch BEFORE
    any state mutation."""
    from olr_cdc_oracle_no_dbz_spark.streaming import (
        ParquetStateTable,
        materialize_stream,
    )
    from tests.conftest import event, write_tx_file

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"))
    cat = SchemaCatalog(str(tmp_path / "schemas"))

    write_tx_file(
        src,
        "b1.json",
        [event(op="c", scn=100, seq=1, after={"id": 1, "stock": 5})],
    )
    q = materialize_stream(
        spark, src, state, ckpt, schema_catalog=cat, subject="products"
    )
    q.awaitTermination(120)
    assert cat.versions("products") == [1]
    v1 = cat.get("products", 1)
    assert "id" in v1.fieldNames() and "__deleted" not in v1.fieldNames()
    assert "op" not in v1.fieldNames()

    # evolved feed: new column -> version 2 registered, state merged
    from olr_cdc_oracle_no_dbz_spark.streaming.source import (
        infer_evolved_schema,
    )

    write_tx_file(
        src,
        "b2.json",
        [event(op="c", scn=101, seq=1, after={"id": 2, "stock": 7, "color": "blue"})],
    )
    q = materialize_stream(
        spark,
        src,
        state,
        ckpt,
        schema=infer_evolved_schema(spark, src),
        schema_catalog=cat,
        subject="products",
    )
    q.awaitTermination(120)
    assert cat.versions("products") == [1, 2]
    assert "color" in cat.get("products", 2).fieldNames()
    rows = {r["id"]: r for r in state.current().collect()}
    assert rows[2]["color"] == "blue"

    # incompatible evolution (stock int -> string): the batch FAILS
    # before any state mutation, no new version is written
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema

    bad_row = StructType(
        [
            StructField("id", IntegerType()),
            StructField("stock", StringType()),
        ]
    )
    write_tx_file(
        src,
        "b3.json",
        [event(op="c", scn=102, seq=1, after={"id": 9, "stock": "oops"})],
    )
    q = materialize_stream(
        spark,
        src,
        state,
        ckpt,
        schema=change_event_schema(bad_row),
        schema_catalog=cat,
        subject="products",
    )
    with pytest.raises(Exception, match="incompatible schema evolution"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")
    assert cat.versions("products") == [1, 2]
    assert 9 not in {r["id"] for r in state.current().collect()}
