"""The three benchmark workloads, driven only through the engine's
public functions on the engine's own session.

- ``cdc_trickle``: open loop, one table. Small transaction files arrive
  on a fixed schedule (two files, about 100 events, per second) into
  ``materialize_stream`` with its default processing-time trigger, the
  schema catalog and a JDBC mirror into sqlite. Fixed per-trigger cost
  dominates; the headline is freshness (file due time to its batch's
  commit).
- ``cdc_drain``: closed loop, three tables. A backlog of files that all
  exist before the query starts is drained by ``config.run_pipeline``
  with ``available_now`` through the multi-table demux. Zipf-skewed
  keys over fully bootstrapped state make cost per row dominate.
- ``query_roster``: closed loop, batch reads. The 24-query roster over
  seeded catalog tables: once cold (each result collected for the
  DuckDB check), then warm through the noop sink.

Every workload returns a ``Result``; ``layers`` is filled only when a
``Tracer`` is passed.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import glob
import os
import sqlite3
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import feed, stats
from perfbench import trace as tr
from perfbench.spec import ROSTER

SETUP_REPEATS = 3

# reads of the drained state tables after the drain
STATE_SCANS = 5

# cdc_trickle sizing
TRICKLE_KEYS = 50_000
# few, larger files: a trigger's cost grows with the files it takes, so
# with many files a second a slow trigger makes the next one slower
TRICKLE_PERIOD_S = 0.5
TRICKLE_FILE_EVENTS = 50  # 100 events/s
TRICKLE_WARMUP_S = 6

# cdc_drain sizing
DRAIN_TABLES = (feed.PRODUCT, feed.CUSTOMER, feed.ORDERS)
DRAIN_KEYS = {"PRODUCT": 60_000, "CUSTOMER": 20_000, "ORDERS": 20_000}
DRAIN_WEIGHTS = {"PRODUCT": 0.6, "CUSTOMER": 0.2, "ORDERS": 0.2}
DRAIN_ZIPF_S = 1.1
DRAIN_FILE_EVENTS = 5_000
DRAIN_FILES_PER_TRIGGER = 4  # 20k events per trigger
DRAIN_TRIGGERS = 4

# query_roster sizing
ROSTER_SF = 0.005


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: int
    session_start_s: float
    tracer: tr.Tracer | None = None


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    summary: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    #: traced runs: fills the job-derived layers once the event log is
    #: complete (after the session stops)
    finish: Callable[[list[tr.Job]], None] | None = None

    def phase(self, name: str, since: float) -> float:
        """Record wall seconds spent in a phase (evidence on the summary
        line); returns now, the start of the next phase."""
        now = time.perf_counter()
        phases = self.summary.setdefault("phase_s", ({}, "s"))[0]
        phases[name] = round(now - since, 3)
        return now

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")


# -- shared helpers -----------------------------------------------------------


def _row_schema(spec: feed.TableSpec):
    """Spark row schema of a feed table. PRODUCT is the engine's own
    ``PRODUCT_SCHEMA`` (all nullable, as inside the envelope)."""
    from pyspark.sql import types as T

    from olr_cdc_oracle_no_dbz_spark.schemas import PRODUCT_SCHEMA

    if spec.table == "PRODUCT":
        return T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in PRODUCT_SCHEMA]
        )
    kinds = {
        "int": T.IntegerType(),
        "str": T.StringType(),
        "text": T.StringType(),
        "dec2": T.DecimalType(12, 2),
        "ts": T.TimestampType(),
    }
    return T.StructType([T.StructField(c, kinds[k], True) for c, k in spec.columns])


def _write_snapshot(path: str, spec: feed.TableSpec, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(
        pa.table({c: pa.array(list(v), pa.string()) for c, v in zip(spec.names, cols)}),
        path,
    )


def _snapshot_df(spark, path: str, spec: feed.TableSpec):
    from pyspark.sql import functions as F

    return spark.read.parquet(path).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in _row_schema(spec)]
    )


def _engine_rows(df, spec: feed.TableSpec) -> dict[str, tuple]:
    """A state table's visible rows in the oracle's canonical form."""
    from pyspark.sql import functions as F

    pdf = df.select(*[F.col(c).cast("string").alias(c) for c in spec.names]).toPandas()
    return {r[0]: r for r in pdf.itertuples(index=False, name=None)}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _progress_start(p: dict) -> float:
    return (
        dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def _state_files(data_dir: str) -> dict[str, int]:
    """``{path: size}`` of a state table's parquet files."""
    return {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(data_dir, "bucket_id=*", "*.parquet"))
    }


class _StateWatch:
    """Traced runs only: diffs the state tables' files around each
    micro-batch, giving touched buckets and rows rewritten from the
    files the merge actually wrote."""

    def __init__(self, tracer: tr.Tracer, data_dirs: list[str]) -> None:
        self.tracer = tracer
        self.data_dirs = data_dirs
        self.before: dict[str, int] = {}
        self.by_batch: dict[int, tuple[int, int]] = {}

    def _all(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for d in self.data_dirs:
            out.update(_state_files(d))
        return out

    def __call__(self, batch_id: int, when: str) -> None:
        import pyarrow.parquet as pq

        if not self.tracer.enabled:
            return
        if when == "before":
            self.before = self._all()
            return
        new = [p for p in self._all() if p not in self.before]
        buckets = {os.path.dirname(p) for p in new}
        rows = sum(pq.read_metadata(p).num_rows for p in new)
        self.by_batch[batch_id] = (len(buckets), rows)

    def totals(self) -> tuple[int, int]:
        files = self._all()
        return len(files), sum(files.values())


def _trace_odd_batches(tracer: tr.Tracer, watch: _StateWatch, since=lambda: True):
    """Batch hook of a traced stream: odd-numbered batches are traced and
    even ones are the untraced base, so a warm-up trend weighs on both."""

    def hook(batch_id: int, when: str) -> None:
        if when == "before":
            tracer.enabled = batch_id % 2 == 1 and since()
        watch(batch_id, when)

    return hook


def _trace_overhead(progress: list[dict], batches: list[int]) -> float:
    """Median trigger time of the traced (odd) batches over that of the
    untraced (even) ones; 0 when either side is empty."""
    times = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in progress}
    odd = [times[b] for b in batches if b % 2 == 1]
    even = [times[b] for b in batches if b % 2 == 0]
    return stats.median(odd) / stats.median(even) if odd and even else 0.0


def _med(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


@dataclass
class _Stream:
    """What a traced stream run leaves behind for its layer metrics."""

    progress: list[dict]
    batches: list[int]  # the measured triggers
    ckpt: str
    src: str
    specs: tuple[feed.TableSpec, ...]
    watch: _StateWatch
    file_lines: dict[str, int]


def _stream_layers(ctx: Ctx, res: Result, st: _Stream) -> None:
    """Layer metrics of a stream's measured triggers from the progress
    records, the spans, the state files and a replay of each trigger's
    files through decode. Job metrics follow in ``res.finish``."""
    from pyspark.sql import functions as F

    from olr_cdc_oracle_no_dbz_spark.cdc.decode import (
        decode_events,
        filter_source,
        unwrap,
    )
    from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema

    L = res.layers
    by_batch = {p["batchId"]: p for p in st.progress}
    measured = [b for b in st.batches if b in by_batch]

    def dur(b: int, key: str) -> float:
        return by_batch[b]["durationMs"].get(key, 0)

    for name, key in (
        ("source.latest_offset_ms", "latestOffset"),
        ("pipeline.add_batch_ms", "addBatch"),
        ("pipeline.wal_commit_ms", "walCommit"),
        ("pipeline.commit_offsets_ms", "commitOffsets"),
        ("pipeline.query_planning_ms", "queryPlanning"),
        ("pipeline.trigger_ms_p50", "triggerExecution"),
    ):
        L[name] = (_med(dur(b, key) for b in measured), "ms")

    # backlog at each trigger's start: files written, not yet taken
    fb = tr.file_batches(st.ckpt)
    written = {n: os.stat(os.path.join(st.src, n)).st_mtime for n in fb}
    L["source.backlog_files_max"] = (
        max(
            (
                sum(
                    1 for n, b2 in fb.items()
                    if b2 >= b and written[n] <= _progress_start(by_batch[b])
                )
                for b in measured
            ),
            default=0,
        ),
        "count",
    )

    # replay each trigger's files: the rows Spark reads must equal the
    # lines generated into them; decode cost and delta keys per trigger
    spark = ctx.spark
    read_rows = reported = 0
    decode_ms, delta_keys = [], []
    for b in measured:
        paths = [os.path.join(st.src, n) for n, b2 in fb.items() if b2 == b]
        raw = spark.read.text(paths)
        n = raw.count()
        want = sum(st.file_lines[os.path.basename(p)] for p in paths)
        res.check(n == want, f"trigger {b}: Spark read {n} lines, {want} generated")
        read_rows += n
        reported += by_batch[b].get("numInputRows", 0)
        deltas = []
        for spec in st.specs:
            ev = decode_events(raw, change_event_schema(_row_schema(spec)))
            ev = filter_source(ev.filter(F.col("_corrupt").isNull()), spec.owner, spec.table)
            deltas.append(unwrap(ev, mode="rewrite"))
        t0 = time.perf_counter()
        for d in deltas:
            _noop(d)
        decode_ms.append((time.perf_counter() - t0) * 1000.0)
        delta_keys.append(sum(d.select("id").distinct().count() for d in deltas))
    L["source.input_rows"] = (read_rows, "count")
    # how many times each trigger's input was scanned, by Spark's counter
    L["source.scans_per_trigger"] = (reported / read_rows if read_rows else 0.0, "ratio")
    L["decode.batch_ms"] = (_med(decode_ms), "ms")
    L["materialize.delta_keys"] = (_med(delta_keys), "count")

    spans = ctx.tracer.spans
    by_id = {sp.id: sp for sp in spans}
    selfs = tr.self_times(spans)

    def parent(sp: tr.Span) -> str | None:
        p = by_id.get(sp.parent)
        return p.name if p else None

    def per_trigger(pred, value=lambda sp: sp.ms) -> float:
        sums = {b: 0.0 for b in measured}
        for sp in spans:
            b = sp.attrs.get("trigger")
            if b in sums and pred(sp):
                sums[b] += value(sp)
        return _med(sums.values())

    L["pipeline.empty_check_ms"] = (per_trigger(lambda s: s.name == "df.isEmpty"), "ms")
    L["schema_catalog.check_ms"] = (
        per_trigger(lambda s: s.name == "schema_catalog.check"), "ms")
    L["state.merge_batch_ms"] = (per_trigger(lambda s: s.name == "state.merge_batch"), "ms")
    L["state.touched_collect_ms"] = (
        per_trigger(lambda s: s.name == "df.collect" and parent(s) == "state.merge_batch"),
        "ms",
    )
    L["checkpointing.truncate_lineage_ms"] = (
        per_trigger(lambda s: s.name == "checkpointing.truncate_lineage"), "ms")
    # self time of merge_batch: the bucket write and its planning
    L["state.write_ms"] = (
        per_trigger(lambda s: s.name == "state.merge_batch", lambda s: selfs[s.id]), "ms")
    L["materialize.latest_state_ms"] = (
        per_trigger(lambda s: s.name == "materialize.latest_state"
                    and parent(s) == "state.merge_batch"),
        "ms",
    )
    L["jdbc_sink.recompact_ms"] = (
        per_trigger(lambda s: s.name == "materialize.latest_state"
                    and parent(s) == "pipeline.batch"),
        "ms",
    )
    L["jdbc_sink.write_batch_ms"] = (
        per_trigger(lambda s: s.name == "jdbc_sink.write_batch"), "ms")
    L["jdbc_sink.rows"] = (
        per_trigger(lambda s: s.name == "jdbc_sink.write_batch",
                    lambda s: s.attrs.get("rows", 0)),
        "count",
    )

    touched = [st.watch.by_batch.get(b, (0, 0)) for b in measured]
    L["state.touched_buckets"] = (_med(t for t, _ in touched), "count")
    L["state.rows_rewritten"] = (_med(r for _, r in touched), "count")
    L["state.write_amplification"] = (
        sum(r for _, r in touched) / sum(delta_keys) if sum(delta_keys) else 0.0,
        "ratio",
    )
    n_files, n_bytes = st.watch.totals()
    L["state.files"] = (n_files, "count")
    L["state.bytes"] = (n_bytes, "bytes")

    def finish(jobs: list[tr.Job]) -> None:
        groups: dict[int, list[tr.Job]] = {b: [] for b in measured}
        for j in jobs:
            b = j.props.get("streaming.sql.batchId")
            if b is not None and int(b) in groups:
                groups[int(b)].append(j)
        L["pipeline.jobs_per_trigger"] = (_med(len(g) for g in groups.values()), "count")
        gaps = []
        for b in measured:
            t0 = _progress_start(by_batch[b]) * 1000.0
            t1 = t0 + dur(b, "triggerExecution")
            busy = tr.union_length(
                [(max(j.submit_ms, t0), min(j.end_ms, t1))
                 for j in groups[b] if j.end_ms > t0 and j.submit_ms < t1]
            )
            gaps.append(t1 - t0 - busy)
        L["pipeline.driver_gap_ms"] = (_med(gaps), "ms")
        _spark_layers(L, list(groups.values()))

    res.finish = finish


def _spark_layers(L: dict, groups: list[list[tr.Job]]) -> None:
    """Executor metrics per unit of work: a trigger, or a roster pass."""

    def med(f) -> float:
        return _med(sum(f(j) for j in g) for g in groups)

    L["spark.executor_run_ms"] = (med(lambda j: j.run_ms), "ms")
    L["spark.executor_cpu_ms"] = (med(lambda j: j.cpu_ms), "ms")
    L["spark.tasks"] = (med(lambda j: j.tasks), "count")
    L["spark.shuffle_read_bytes"] = (med(lambda j: j.shuffle_read), "bytes")
    L["spark.shuffle_write_bytes"] = (med(lambda j: j.shuffle_write), "bytes")
    L["spark.spill_bytes"] = (med(lambda j: j.spill), "bytes")


def _scan_s(tables) -> float:
    """Median time to read every state table's visible rows through the
    noop sink, over STATE_SCANS reads."""
    times = []
    for _ in range(STATE_SCANS):
        t0 = time.perf_counter()
        for st in tables:
            _noop(st.current())
        times.append(time.perf_counter() - t0)
    return stats.median(times)


def _bootstrap(ctx: Ctx, specs, snap_paths: dict[str, str], state_dir) -> tuple[list[float], dict]:
    """Bootstrap every table SETUP_REPEATS times into fresh directories;
    returns the set-up times and the last repetition's state tables."""
    from olr_cdc_oracle_no_dbz_spark.streaming.state import ParquetStateTable

    times, states = [], {}
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        states = {}
        for spec in specs:
            st = ParquetStateTable(ctx.spark, state_dir(i, spec))
            st.bootstrap(_snapshot_df(ctx.spark, snap_paths[spec.table], spec))
            states[spec.table] = st
        times.append(time.perf_counter() - t0)
    return times, states


# -- cdc_trickle ----------------------------------------------------------------


def cdc_trickle(ctx: Ctx) -> Result:
    from olr_cdc_oracle_no_dbz_spark.schema_catalog import SchemaCatalog
    from olr_cdc_oracle_no_dbz_spark.streaming.pipeline import materialize_stream

    res, spec = Result(), feed.PRODUCT
    mark = time.perf_counter()
    gen = feed.FeedGenerator(ctx.seed, (spec,), {spec.table: TRICKLE_KEYS})
    snapshot = gen.snapshot(spec.table)
    snap = os.path.join(ctx.work, "snapshot-product.parquet")
    _write_snapshot(snap, spec, snapshot)
    setups, states = _bootstrap(
        ctx, (spec,), {spec.table: snap},
        lambda i, _s: os.path.join(ctx.work, f"setup{i}", "state"),
    )
    state = states[spec.table]
    run_dir = os.path.join(ctx.work, f"setup{SETUP_REPEATS - 1}")

    db_path = os.path.join(run_dir, "mirror.db")
    with sqlite3.connect(db_path) as db:
        db.execute(
            "CREATE TABLE products (id INT PRIMARY KEY, name VARCHAR(100),"
            " description VARCHAR(500), price VARCHAR(20), stock INT,"
            " created_date VARCHAR(30), updated_date VARCHAR(30))"
        )
        db.executemany("INSERT INTO products VALUES (?,?,?,?,?,?,?)", snapshot)

    def factory():
        # sqlite3 binds no Decimal; registered here so any process
        # that opens a connection has it
        sqlite3.register_adapter(decimal.Decimal, str)
        return sqlite3.connect(db_path, timeout=60)

    src, ckpt = os.path.join(run_dir, "src"), os.path.join(run_dir, "ckpt")
    file_lines: dict[str, int] = {}
    all_lines: list[str] = []

    def emit(i: int, due_ms: int) -> str:
        lines = gen.transaction(TRICKLE_FILE_EVENTS)
        name = f"tx-{i:06d}-due{due_ms:07d}.json"
        feed.write_file(src, name, lines)
        file_lines[name] = len(lines)
        all_lines.extend(lines)
        return name

    watch, window_from = None, [float("inf")]
    if ctx.tracer is not None:
        watch = _StateWatch(ctx.tracer, [state.data_dir])
        ctx.tracer.batch_hook = _trace_odd_batches(
            ctx.tracer, watch, lambda: time.time() >= window_from[0]
        )
    warm = {emit(0, 0)}
    mark = res.phase("setup", mark)
    t_start = time.time()
    query = materialize_stream(
        ctx.spark,
        src,
        state,
        ckpt,
        available_now=False,
        jdbc_sink={
            "connection_factory": factory,
            "table": "products",
            "dialect": "postgresql",
            "parallelism": 1,
        },
        schema_catalog=SchemaCatalog(os.path.join(run_dir, "schemas")),
        subject="products",
    )
    due: dict[str, float] = {}
    late: list[float] = []
    try:
        # the first file's trigger pays query start
        while not tr.commit_times(ckpt) and query.isActive:
            time.sleep(0.01)
        first = tr.commit_times(ckpt)
        start_s = min(first.values()) - t_start if first else float("nan")
        mark = res.phase("start", mark)
        # open loop: file i is due at t0 + i * period whether or not the
        # pipeline keeps up. The first TRICKLE_WARMUP_S are not measured:
        # the first triggers after a start are slower.
        t0 = time.time()
        window_from[0] = t0 + TRICKLE_WARMUP_S
        n_warm = int(TRICKLE_WARMUP_S / TRICKLE_PERIOD_S)
        n_files = n_warm + int(ctx.seconds / TRICKLE_PERIOD_S)
        for i in range(n_files):
            at = t0 + i * TRICKLE_PERIOD_S
            wait = at - time.time()
            if wait > 0:
                time.sleep(wait)
            name = emit(i + 1, int(round(i * TRICKLE_PERIOD_S * 1000)))
            late.append(max(0.0, time.time() - at))
            if i >= n_warm:
                due[name] = at
            else:
                warm.add(name)
        t_fed = time.time()
        mark = res.phase("feed", mark)
        query.processAllAvailable()
    finally:
        query.stop()
        if ctx.tracer is not None:
            ctx.tracer.enabled = False
    mark = res.phase("tail", mark)
    res.check(query.exception() is None, "stream query ran without error")
    progress = list(query.recentProgress)

    fb, commits = tr.file_batches(ckpt), tr.commit_times(ckpt)
    res.check(all(fb.get(n) in commits for n in due), "every window file committed")
    # measured triggers: those that carry window files only
    batches = sorted({fb[n] for n in due if n in fb} - {fb.get(n) for n in warm})
    fresh = [(commits[fb[n]] - d) * 1000.0 for n, d in due.items() if fb.get(n) in commits]
    # trigger time counts the triggers that began while the feed ran
    # (later ones drain a partial tail)
    trig = [
        p["durationMs"]["triggerExecution"] for p in progress
        if p["batchId"] in batches and _progress_start(p) < t_fed
    ]

    model = feed.LWWModel((spec,))
    model.load_snapshot(spec, snapshot)
    for line in all_lines:
        model.apply_line(line)
    want = model.current(spec)
    bad, example = feed.diff_rows(want, _engine_rows(state.current(), spec))
    res.check(bad == 0, f"state table: {bad} keys differ from the model; {example}")
    with sqlite3.connect(db_path) as db:
        mirror = {
            str(r[0]): tuple(None if v is None else str(v) for v in r)
            # auto-evolve may have added columns the model has no
            # opinion on (the __deleted flag); compare the row image
            for r in db.execute(f"SELECT {', '.join(spec.names)} FROM products")
        }
    bad, example = feed.diff_rows(want, mirror)
    res.check(bad == 0, f"sqlite mirror: {bad} keys differ from the model; {example}")
    res.phase("check", mark)

    m = res.metrics
    m["setup_s"] = (ctx.session_start_s + stats.median(setups), "s")
    m["latency_ms_p50"] = (stats.percentile(fresh, 50), "ms")
    # what a fresh process pays before its first change reaches the
    # sink: its first bootstrap and its first stream start, both cold.
    # The start alone is one ~6 s event, too short to be steady.
    m["cold_s"] = (setups[0] + start_s, "s")
    res.summary.update(
        first_bootstrap_s=(setups[0], "s"),
        start_s=(start_s, "s"),
        freshness_ms_p50=m["latency_ms_p50"],
        freshness_ms_p90=(stats.percentile(fresh, 90), "ms"),
        freshness_samples=(len(fresh), "count"),
        trigger_ms_p50=(stats.percentile(trig, 50), "ms"),
        trigger_ms_each=(trig, "ms"),
        generator_late_ms_max=(max(late) * 1000.0, "ms"),
    )
    if ctx.tracer is not None:
        res.layers["feed.generator_late_ms_max"] = res.summary["generator_late_ms_max"]
        full = [
            p["batchId"] for p in progress
            if p["batchId"] in batches and _progress_start(p) < t_fed
        ]
        res.layers["trace.overhead"] = (_trace_overhead(progress, full), "ratio")
        traced = [b for b in full if b % 2 == 1]
        _stream_layers(ctx, res, _Stream(progress, traced, ckpt, src, (spec,), watch, file_lines))
    return res


# -- cdc_drain -------------------------------------------------------------------


def cdc_drain(ctx: Ctx) -> Result:
    from olr_cdc_oracle_no_dbz_spark import config
    from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema

    res = Result()
    gen = feed.FeedGenerator(
        ctx.seed, DRAIN_TABLES, DRAIN_KEYS, weights=DRAIN_WEIGHTS, zipf_s=DRAIN_ZIPF_S
    )
    snaps, snap_paths = {}, {}
    for spec in DRAIN_TABLES:
        snaps[spec.table] = gen.snapshot(spec.table)
        snap_paths[spec.table] = os.path.join(ctx.work, f"snapshot-{spec.table}.parquet")
        _write_snapshot(snap_paths[spec.table], spec, snaps[spec.table])
    # run_pipeline keeps each table's state in {work_dir}/state-{sink}
    setups, states = _bootstrap(
        ctx, DRAIN_TABLES, snap_paths,
        lambda i, s: os.path.join(ctx.work, f"setup{i}", f"state-{s.table.lower()}"),
    )
    run_dir = os.path.join(ctx.work, f"setup{SETUP_REPEATS - 1}")

    src = os.path.join(run_dir, "src")
    file_lines: dict[str, int] = {}
    model = feed.LWWModel(DRAIN_TABLES)
    for spec in DRAIN_TABLES:
        model.load_snapshot(spec, snaps[spec.table])
    for i in range(DRAIN_TRIGGERS * DRAIN_FILES_PER_TRIGGER):
        lines = gen.transaction(DRAIN_FILE_EVENTS)
        name = f"tx-{i:06d}.json"
        feed.write_file(src, name, lines)
        file_lines[name] = len(lines)
        for line in lines:
            model.apply_line(line)
    total_lines = sum(file_lines.values())

    capture = {
        "source": [{
            "filter": {"table": [{"owner": s.owner, "table": s.table} for s in DRAIN_TABLES]},
            "format": {"type": "json"},
            # one file per 64 MB of transaction memory (config docs)
            "memory": {"max-mb": 64 * DRAIN_FILES_PER_TRIGGER},
        }]
    }
    connectors = [{"topics": s.table.lower(), "pk.fields": "ID"} for s in DRAIN_TABLES]
    cfg = config.apply_sink_configs(config.load_capture_config(capture), connectors)
    schemas = {(s.owner, s.table): change_event_schema(_row_schema(s)) for s in DRAIN_TABLES}

    watch = None
    if ctx.tracer is not None:
        watch = _StateWatch(ctx.tracer, [st.data_dir for st in states.values()])
        ctx.tracer.batch_hook = _trace_odd_batches(ctx.tracer, watch)
    t0 = time.time()
    query, sinks = config.run_pipeline(
        ctx.spark, cfg, src, run_dir, available_now=True, schemas=schemas
    )
    query.awaitTermination()
    wall = time.time() - t0
    res.check(query.exception() is None, "stream query ran without error")
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    res.check(len(trig) == DRAIN_TRIGGERS, f"{len(trig)} triggers, want {DRAIN_TRIGGERS}")

    scan_s = _scan_s(list(sinks.values()))
    # every file was due when the drain started: time until each one's
    # batch committed
    ckpt = glob.glob(os.path.join(run_dir, "ckpt-*"))[0]
    fb, commits = tr.file_batches(ckpt), tr.commit_times(ckpt)
    visible = [(commits[fb[n]] - t0) * 1000.0 for n in file_lines if fb.get(n) in commits]

    for spec in DRAIN_TABLES:
        got = _engine_rows(sinks[spec.table.lower()].current(), spec)
        bad, example = feed.diff_rows(model.current(spec), got)
        res.check(bad == 0, f"{spec.table}: {bad} keys differ from the model; {example}")

    m = res.metrics
    m["setup_s"] = (ctx.session_start_s + stats.median(setups), "s")
    m["latency_ms_p50"] = (stats.percentile(visible, 50), "ms")
    m["cold_s"] = (trig[0] / 1000.0, "s")
    res.summary.update(
        visible_ms_p90=(stats.percentile(visible, 90), "ms"),
        trigger_ms_p50=(stats.median(trig), "ms"),
        events_per_s=(total_lines / wall, "events/s"),
        state_scan_s=(scan_s, "s"),
        triggers=(len(trig), "count"),
        events=(total_lines, "count"),
    )
    if ctx.tracer is not None:
        ctx.tracer.enabled = False
        # batch 0 pays the cold start; it is no base for the overhead
        warm_batches = [p["batchId"] for p in progress if p["batchId"] > 0]
        res.layers["trace.overhead"] = (_trace_overhead(progress, warm_batches), "ratio")
        batches = [b for b in warm_batches if b % 2 == 1]
        _stream_layers(
            ctx, res, _Stream(progress, batches, ckpt, src, DRAIN_TABLES, watch, file_lines)
        )
    return res


# -- query_roster ------------------------------------------------------------------


def _canon(v) -> str:
    """One value as text, after pandas materialization, so that Spark
    and DuckDB results compare equal when their values are equal."""
    import math

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return "NULL"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (float, np.floating)):
        return "NaN" if math.isnan(float(v)) else repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def result_digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted by their canonical text."""
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def query_roster(ctx: Ctx) -> Result:
    import duckdb

    from olr_cdc_oracle_no_dbz_spark import catalog
    from olr_cdc_oracle_no_dbz_spark.schemas import TESTDATA_TABLES
    from olr_cdc_oracle_no_dbz_spark.workload import oracles, queries

    from perfbench import tables

    spark, res, tracer = ctx.spark, Result(), ctx.tracer
    mark = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "sf")
    tables.generate(sf_dir, ctx.seed, ROSTER_SF)
    qs, orc = queries(), oracles()

    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        for name in TESTDATA_TABLES:
            catalog.load_table(spark, sf_dir, name)
        setups.append(time.perf_counter() - t0)

    exchanges: dict[str, int] = {}

    def run(name: str, label: str, collect: bool = False):
        """One query, timed; ``collect`` brings its result to the driver
        instead of the noop sink. Returns (seconds, columns, rows)."""
        sc = spark.sparkContext
        sc.setLocalProperty("perfbench.query", f"{label}:{name}")
        traced = tracer is not None and tracer.enabled
        span = tracer.span if traced else (lambda *_a, **_k: contextlib.nullcontext())
        try:
            t0 = time.perf_counter()
            with span("workload.query", query=name, pass_=label):
                with span("workload.build"):
                    df = qs[name](spark, sf_dir)
                if traced:
                    with span("workload.plan"):
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    exchanges[name] = plan.count("Exchange")
                with span("workload.exec"):
                    if collect:
                        cols = df.columns
                        rows = list(df.toPandas().itertuples(index=False, name=None))
                    else:
                        _noop(df)
                        cols = rows = None
            return time.perf_counter() - t0, cols, rows
        finally:
            sc.setLocalProperty("perfbench.query", None)

    # cold pass: each query's first run in this process; its result is
    # collected so the oracle check below needs no extra execution
    mark = res.phase("setup", mark)
    results: dict[str, tuple] = {}
    cold_s = 0.0
    for name in ROSTER:
        try:
            secs, cols, rows = run(name, "cold", collect=True)
        except Exception as exc:  # noqa: BLE001 - a failing query is a result
            res.check(False, f"{name} (cold): {type(exc).__name__}: {exc}")
            continue
        cold_s += secs
        results[name] = (cols, rows)

    def warm_pass(label: str) -> dict[str, float]:
        out = {}
        for name in ROSTER:
            try:
                out[name] = run(name, label)[0]
            except Exception as exc:  # noqa: BLE001
                res.check(False, f"{name} ({label}): {type(exc).__name__}: {exc}")
        return out

    # warm passes while another one fits in the measured time
    warm: list[dict[str, float]] = []
    walls: list[float] = []
    mark = res.phase("cold", mark)
    t_warm = time.perf_counter()
    while not walls or time.perf_counter() - t_warm + walls[-1] <= ctx.seconds:
        t0 = time.perf_counter()
        warm.append(warm_pass(f"warm{len(warm)}"))
        walls.append(time.perf_counter() - t0)
    if tracer is not None:
        tracer.enabled = True
        t0 = time.perf_counter()
        traced_pass = warm_pass("traced")
        traced_wall = time.perf_counter() - t0
        tracer.enabled = False

    mark = res.phase("warm", mark)
    # correctness, outside every timed region: each cold result against
    # its DuckDB oracle over the same files
    con = duckdb.connect()
    try:
        for name in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, name)}.parquet'"
            )
        for name, (s_cols, s_rows) in results.items():
            if name not in orc:
                res.check(True, name)
                continue
            cur = con.execute(orc[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = list(cur.fetchdf().itertuples(index=False, name=None))
            same = (
                len(s_rows) == len(o_rows)
                and sorted(s_cols) == sorted(o_cols)
                and result_digest(s_cols, s_rows) == result_digest(o_cols, o_rows)
            )
            res.check(same, f"{name}: {len(s_rows)} rows, oracle {len(o_rows)}; digests differ")
    finally:
        con.close()
    for p in warm:
        res.attempted += len(p)

    res.phase("check", mark)
    per_query = {
        n: stats.median([p[n] for p in warm]) * 1000.0
        for n in ROSTER if all(n in p for p in warm)
    }
    roster_s = stats.median(walls)
    ms = list(per_query.values())
    m = res.metrics
    m["setup_s"] = (ctx.session_start_s + stats.median(setups), "s")
    m["latency_ms_p50"] = (stats.percentile(ms, 50), "ms")
    m["cold_s"] = (cold_s, "s")
    res.summary.update(
        query_ms_p90=(stats.percentile(ms, 90), "ms"),
        roster_cold_s=(cold_s, "s"),
        roster_s=(roster_s, "s"),
        roster_geomean_ms=(stats.geomean(ms), "ms"),
        warm_passes=(len(warm), "count"),
        warm_pass_s_max=(max(walls), "s"),
        warm_pass_s_min=(min(walls), "s"),
    )

    if tracer is not None:
        L = res.layers
        L["trace.overhead"] = (traced_wall / roster_s, "ratio")
        spans = [s for s in tracer.spans if s.attrs.get("pass_") == "traced"]

        def med_per_query(kind: str) -> float:
            return _med(s.ms for s in spans if s.name == kind)

        L["workload.build_ms"] = (med_per_query("workload.build"), "ms")
        L["workload.plan_ms"] = (med_per_query("workload.plan"), "ms")
        for n in ROSTER:
            L[f"workload.exec_ms.{n}"] = (traced_pass.get(n, 0.0) * 1000.0, "ms")
        L["workload.exchanges"] = (sum(exchanges.values()), "count")
        L["catalog.load_ms"] = (stats.median(setups) * 1000.0, "ms")
        window = (
            min(s.start for s in spans) * 1000.0,
            max(s.end for s in spans) * 1000.0,
        )

        def finish(jobs: list[tr.Job]) -> None:
            mine = [j for j in jobs if str(j.props.get("perfbench.query", "")).startswith("traced:")]
            L["workload.jobs"] = (len(mine), "count")
            busy = tr.union_length(
                [(max(j.submit_ms, window[0]), min(j.end_ms, window[1])) for j in mine]
            )
            L["workload.driver_gap_ms"] = (window[1] - window[0] - busy, "ms")
            L["workload.python_bytes"] = (sum(j.python_bytes for j in mine), "bytes")
            _spark_layers(L, [mine])

        res.finish = finish
    return res


WORKLOADS = {
    "cdc_trickle": cdc_trickle,
    "cdc_drain": cdc_drain,
    "query_roster": query_roster,
}
