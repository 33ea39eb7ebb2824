import json

from perfbench import feed


def _gen(seed):
    return feed.FeedGenerator(seed, (feed.PRODUCT,), {"PRODUCT": 200})


def test_generator_is_deterministic():
    a, b, c = _gen(5), _gen(5), _gen(6)
    ta = [a.transaction(40) for _ in range(5)]
    assert ta == [b.transaction(40) for _ in range(5)]
    assert ta != [c.transaction(40) for _ in range(5)]
    assert _gen(5).snapshot("PRODUCT") == _gen(5).snapshot("PRODUCT")
    assert _gen(5).snapshot("PRODUCT") != _gen(6).snapshot("PRODUCT")


def test_feed_covers_every_case():
    gen = _gen(11)
    corrupt = uncaptured = 0
    ops = set()
    repeated_in_tx = absent_delete = False
    for _ in range(80):
        keys = []
        for line in gen.transaction(30):
            try:
                ev = json.loads(line)
            except ValueError:
                corrupt += 1
                continue
            if "op" not in ev:
                corrupt += 1
                continue
            if (ev["schema_owner"], ev["schema_table"]) != ("OLR_DB", "PRODUCT"):
                uncaptured += 1
                continue
            ops.add(ev["op"])
            img = ev["after"] or ev["before"]
            keys.append(img["id"])
            if ev["op"] == "d" and img["id"] >= 200:
                absent_delete = True
        repeated_in_tx |= len(keys) != len(set(keys))
    assert ops == {"c", "u", "d"}
    assert corrupt and uncaptured and repeated_in_tx and absent_delete


def _line(scn, seq, op, key, stock, table="PRODUCT", owner="OLR_DB"):
    img = {"id": key, "name": f"n{key}", "description": None, "price": 1.5,
           "stock": stock, "created_date": "2026-01-01 00:00:00",
           "updated_date": "2026-01-01 00:00:00"}
    return json.dumps({
        "scn": scn, "seq": seq, "op": op, "schema_owner": owner, "schema_table": table,
        "before": img if op == "d" else None, "after": None if op == "d" else img,
    })


def test_model_applies_last_writer_wins():
    m = feed.LWWModel((feed.PRODUCT,))
    lines = [
        _line(10, 1, "c", 1, 5),
        _line(10, 2, "u", 1, 6),   # same txn, later seq wins
        _line(9, 1, "u", 1, 99),   # older SCN arrives late: ignored
        _line(11, 1, "c", 2, 7),
        _line(12, 1, "d", 2, 7),
        _line(13, 1, "d", 3, 0),   # delete of a key that never existed
        _line(14, 1, "u", 4, 1, table="AUDIT_LOG"),
        _line(14, 2, "u", 4, 1, owner="HR"),
        '{"scn":15,"op":',
        "{}",
    ]
    applied = [m.apply_line(x) for x in lines]
    assert applied == [True] * 6 + [False] * 4
    cur = m.current(feed.PRODUCT)
    assert list(cur) == ["1"]
    assert cur["1"] == ("1", "n1", None, "1.50", "6", "2026-01-01 00:00:00",
                        "2026-01-01 00:00:00")


def test_model_agrees_with_materialize_state(spark, tmp_path):
    from pyspark.sql import functions as F

    from olr_cdc_oracle_no_dbz_spark.cdc.decode import decode_events, filter_source, unwrap
    from olr_cdc_oracle_no_dbz_spark.cdc.materialize import materialize_state
    from olr_cdc_oracle_no_dbz_spark.schemas import CHANGE_EVENT_SCHEMA

    gen = _gen(3)
    snapshot = gen.snapshot("PRODUCT")
    model = feed.LWWModel((feed.PRODUCT,))
    model.load_snapshot(feed.PRODUCT, snapshot)
    for i in range(10):
        lines = gen.transaction(100)
        feed.write_file(str(tmp_path / "src"), f"tx{i}.json", lines)
        for line in lines:
            model.apply_line(line)

    ev = decode_events(spark.read.text(str(tmp_path / "src")), CHANGE_EVENT_SCHEMA)
    delta = unwrap(
        filter_source(ev.filter(F.col("_corrupt").isNull()), "OLR_DB", "PRODUCT"),
        mode="rewrite",
    )
    image = [f.name for f in CHANGE_EVENT_SCHEMA["after"].dataType.fields]
    snap = spark.createDataFrame(snapshot, image).select(
        *[F.col(f.name).cast(f.dataType) for f in CHANGE_EVENT_SCHEMA["after"].dataType.fields],
        F.lit(0).cast("long").alias("scn"),
        F.lit(0).alias("seq"),
        F.lit("c").alias("op"),
        F.lit(False).alias("__deleted"),
    )
    state = materialize_state(snap.unionByName(delta), ("id",))
    got = {
        r[0]: tuple(r)
        for r in state.select(*[F.col(c).cast("string") for c in image]).collect()
    }
    assert feed.diff_rows(model.current(feed.PRODUCT), got) == (0, "")
