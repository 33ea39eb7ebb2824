import json
import os

import pytest

from perfbench import trace as tr

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _span(sid, parent, start, end):
    return tr.Span(sid, f"s{sid}", parent, float(start), float(end))


def test_self_time_on_synthetic_spans():
    spans = [
        _span(1, None, 0, 10),
        _span(2, 1, 1, 4),   # overlaps its sibling 3 on [3, 4]
        _span(3, 1, 3, 6),
        _span(4, 2, 2, 3),
        _span(5, 1, 9, 12),  # runs past its parent: only [9, 10] counts
    ]
    selfs = tr.self_times(spans)
    assert selfs[1] == pytest.approx((10 - 5 - 1) * 1000)
    assert selfs[2] == pytest.approx(2000)
    assert selfs[3] == pytest.approx(3000)
    assert selfs[4] == pytest.approx(1000)
    assert selfs[5] == pytest.approx(3000)
    assert tr.self_time_violations(spans[:4]) == 0


def test_self_time_violation_is_reported():
    spans = [_span(1, None, 0, 2), _span(2, 1, 0, 1), _span(3, 2, 0, 5)]
    # span 3 outlasts both ancestors: its 5 s of self time exceed both
    assert tr.self_time_violations(spans) == 2


def test_tracer_nests_spans_per_thread_and_restores_wrappers():
    import threading

    t = tr.Tracer()
    with t.span("outer", trigger=7):
        with t.span("inner"):
            pass
        th = threading.Thread(target=lambda: t.finish(t.start("other")))
        th.start()
        th.join(timeout=10)
    by = {s.name: s for s in t.spans}
    assert by["inner"].parent == by["outer"].id
    assert by["inner"].attrs["trigger"] == 7
    assert by["other"].parent is None


def test_install_wraps_and_restores(spark):
    from olr_cdc_oracle_no_dbz_spark.streaming import state

    orig = state.ParquetStateTable.merge_batch
    t = tr.Tracer()
    restore = tr.install(t)
    try:
        assert state.ParquetStateTable.merge_batch is not orig
        spark.range(3).collect()  # disabled: not recorded
        t.enabled = True
        spark.range(3).collect()
    finally:
        restore()
    assert state.ParquetStateTable.merge_batch is orig
    assert [s.name for s in t.spans] == ["df.collect"]


def test_event_log_parser_on_recorded_fixture():
    jobs = tr.parse_event_log(os.path.join(FIXTURES, "eventlog.jsonl"))
    by_batch = {}
    for j in jobs:
        b = j.props.get("streaming.sql.batchId")
        if b is not None:
            by_batch.setdefault(int(b), []).append(j)
    assert sorted(by_batch) == [0, 1]
    assert all(j.end_ms >= j.submit_ms > 0 for j in jobs)
    assert all(j.tasks > 0 and j.run_ms >= 0 for j in jobs)
    shuffled = [j for j in jobs if j.shuffle_write]
    assert shuffled and all(j.shuffle_read or j.shuffle_write for j in shuffled)
    with open(os.path.join(FIXTURES, "eventlog.jsonl")) as fh:
        task_ends = sum(1 for line in fh if '"SparkListenerTaskEnd"' in line)
    assert sum(j.tasks for j in jobs) == task_ends


def test_file_batches_reads_the_source_log_and_compactions(tmp_path):
    log = tmp_path / "ckpt" / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, b):
        return json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": b})

    (log / "1.compact").write_text("v1\n" + "\n".join([entry("a", 0), entry("b", 1)]) + "\n")
    (log / "2").write_text("v1\n" + entry("c", 2) + "\n" + entry("d", 2) + "\n")
    (log / ".2.crc").write_text("")
    (tmp_path / "ckpt" / "commits").mkdir()
    (tmp_path / "ckpt" / "commits" / "2").write_text("v1\n{}")
    assert tr.file_batches(str(tmp_path / "ckpt")) == {"a": 0, "b": 1, "c": 2, "d": 2}
    assert list(tr.commit_times(str(tmp_path / "ckpt"))) == [2]


def test_file_batches_matches_what_each_batch_read(spark, tmp_path):
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        (src / f"f{i}.txt").write_text(f"line-{i}\n")
    seen = {}

    def record(df, batch_id):
        seen[batch_id] = {
            os.path.basename(r[0]) for r in df.select(F.input_file_name()).collect()
        }

    q = (
        spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(str(src))
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    mapping = tr.file_batches(str(tmp_path / "ckpt"))
    assert len(mapping) == 4
    for batch_id, files in seen.items():
        assert files == {n for n, b in mapping.items() if b == batch_id}
    assert set(tr.commit_times(str(tmp_path / "ckpt"))) == set(seen)


def test_union_length():
    assert tr.union_length([]) == 0
    assert tr.union_length([(0, 2), (1, 3), (5, 6)]) == 4
