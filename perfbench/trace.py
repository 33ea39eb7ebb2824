"""Spans, self time, and the Spark-side evidence a traced run reads.

Spans are recorded in this process only, around calls into the
engine's modules: ``install`` replaces module attributes with timing
wrappers and returns a function that puts them back. The engine code
is not edited. ``foreachBatch`` bodies run in this Python process, so
the wrappers see every call a micro-batch makes.

The Spark side comes from two files Spark writes itself: the event log
(``parse_event_log``: jobs, their properties and their tasks' metrics)
and the streaming checkpoint (``file_batches``: which source file went
into which micro-batch; ``commit_times``: when each batch committed).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder. Each thread keeps its own stack, so a
    span's parent is the innermost open span of the same thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.context: dict = {}
        #: wrappers record spans only while this is set, so one process
        #: can run the same work untraced and traced
        self.enabled = False
        #: ``hook(batch_id, "before" | "after")`` around each
        #: ``foreachBatch`` body, set by the workload that owns the
        #: stream; it may switch ``enabled`` for the batch it precedes
        self.batch_hook = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, **attrs) -> Span:
        stack = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        parent = stack[-1] if stack else None
        # a span carries its parent's attributes (trigger, query, ...)
        merged = dict(parent.attrs if parent is not None else self.context)
        merged.update(attrs)
        sp = Span(sid, name, parent.id if parent else None, time.time(), attrs=merged)
        stack.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.start(name, **attrs)
        try:
            yield sp
        finally:
            self.finish(sp)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                rec = {
                    "id": sp.id,
                    "name": sp.name,
                    "parent": sp.parent,
                    "start": sp.start,
                    "end": sp.end,
                    "self_ms": selfs[sp.id],
                    **sp.attrs,
                }
                fh.write(json.dumps(rec, default=str) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time in ms of every span: its duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = union_length(
            [
                (max(c.start, sp.start), min(c.end, sp.end))
                for c in children.get(sp.id, [])
                if c.end > sp.start and c.start < sp.end
            ]
        )
        out[sp.id] = max(0.0, (sp.end - sp.start) - covered) * 1000.0
    return out


def self_time_violations(spans: list[Span]) -> int:
    """Spans whose descendants' self times add up to more than the span
    lasted (a broken nesting or a clock error); 0 when consistent."""
    selfs = self_times(spans)
    by_id = {sp.id: sp for sp in spans}
    below: dict[int, float] = {sp.id: 0.0 for sp in spans}
    for sp in spans:
        p = sp.parent
        while p is not None and p in by_id:
            below[p] += selfs[sp.id]
            p = by_id[p].parent
    return sum(1 for sp in spans if below[sp.id] > sp.ms + 1e-6)


# -- wrappers ---------------------------------------------------------------


def _wrap(tracer: Tracer, owner, attr: str, name: str, undo: list,
          on_result=None) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return orig(*args, **kwargs)
        with tracer.span(name) as sp:
            res = orig(*args, **kwargs)
            if on_result is not None:
                on_result(sp, res)
            return res

    setattr(owner, attr, wrapper)
    undo.append((owner, attr, orig))


def install(tracer: Tracer):
    """Wrap the engine's public entry points (and the DataFrame actions
    they run) with spans, recorded while ``tracer.enabled`` is set;
    ``tracer.batch_hook`` runs around every ``foreachBatch`` body.
    Returns a function that restores every original."""
    from pyspark.sql.streaming import DataStreamWriter

    try:  # pyspark 4: the classic (non-Connect) DataFrame overrides the actions
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from olr_cdc_oracle_no_dbz_spark import config, schema_catalog
    from olr_cdc_oracle_no_dbz_spark.cdc import materialize
    from olr_cdc_oracle_no_dbz_spark.streaming import jdbc_sink, pipeline, state

    undo: list = []
    w = functools.partial(_wrap, tracer, undo=undo)
    w(config, "run_pipeline", "pipeline.start")
    w(pipeline, "materialize_stream", "pipeline.start")
    w(pipeline, "materialize_stream_tables", "pipeline.start")
    w(pipeline, "read_change_stream", "source.read_change_stream")
    for fn in ("decode_events", "filter_source", "unwrap"):
        w(pipeline, fn, f"decode.{fn}")
    w(state, "latest_state", "materialize.latest_state")
    w(state, "merge_into_state", "materialize.merge_into_state")
    w(state, "truncate_lineage", "checkpointing.truncate_lineage")
    w(materialize, "latest_state", "materialize.latest_state")
    w(state.ParquetStateTable, "merge_batch", "state.merge_batch")
    w(jdbc_sink, "write_batch", "jdbc_sink.write_batch",
      on_result=lambda sp, res: sp.attrs.update(rows=sum(res)))
    w(schema_catalog.SchemaCatalog, "check_and_register", "schema_catalog.check")
    w(DataFrame, "isEmpty", "df.isEmpty")
    w(DataFrame, "collect", "df.collect")

    orig_fb = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def traced(batch_df, batch_id):
            hook = tracer.batch_hook
            if hook is not None:
                hook(batch_id, "before")
            if tracer.enabled:
                with tracer.span("pipeline.batch", trigger=batch_id):
                    func(batch_df, batch_id)
            else:
                func(batch_df, batch_id)
            if hook is not None:
                hook(batch_id, "after")

        return orig_fb(self, traced)

    DataStreamWriter.foreachBatch = foreach_batch
    undo.append((DataStreamWriter, "foreachBatch", orig_fb))

    def restore() -> None:
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore


# -- Spark event log ----------------------------------------------------------


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    props: dict = field(default_factory=dict)
    stages: tuple[int, ...] = ()
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    python_bytes: int = 0


_PY_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def _event_lines(path: str):
    """Lines of an event log: one file, or a rolling log directory
    (``eventlog_v2_*``) whose ``events_<n>_*`` files are read in order."""
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        files = [
            os.path.join(path, p)
            for p in sorted(parts, key=lambda p: int(p.split("_")[1]))
        ]
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            yield from fh


def parse_event_log(path: str) -> list[Job]:
    """Jobs from a Spark JSON event log (a file or a rolling log
    directory), each with the summed metrics of the tasks of its
    stages. A stage shared by two jobs counts once, for the job that
    submitted it first."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(
                ev["Job ID"],
                ev.get("Submission Time", 0),
                props=ev.get("Properties") or {},
                stages=tuple(ev.get("Stage IDs") or ()),
            )
            jobs[j.id] = j
            for s in j.stages:
                stage_job.setdefault(s, j.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID")))
            if j is None:
                continue
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            j.tasks += 1
            j.run_ms += m.get("Executor Run Time", 0)
            j.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            j.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            j.shuffle_write += wr.get("Shuffle Bytes Written", 0)
            j.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                if acc.get("Name") in _PY_ACCUMS:
                    j.python_bytes += int(acc.get("Update") or 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def event_log_file(directory: str) -> str | None:
    """The finished event log (file or rolling directory) in ``directory``."""
    logs = sorted(
        p for p in glob.glob(os.path.join(directory, "*"))
        if not p.endswith(".inprogress")
    )
    return logs[-1] if logs else None


# -- streaming checkpoint -----------------------------------------------------


def _log_entries(directory: str) -> dict[int, list[str]]:
    """``{batch: [lines]}`` of a Spark metadata log directory, reading
    ``N.compact`` files too (they hold every earlier batch's entries)."""
    out: dict[int, list[str]] = {}
    for p in glob.glob(os.path.join(directory, "*")):
        base = os.path.basename(p)
        stem = base[: -len(".compact")] if base.endswith(".compact") else base
        if not stem.isdigit():
            continue
        with open(p) as fh:
            lines = fh.read().splitlines()
        out[int(stem)] = lines[1:]  # first line is the log version
    return out


def file_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """``{file basename: batch id}`` from the file source's log."""
    mapping: dict[str, int] = {}
    for lines in _log_entries(
        os.path.join(checkpoint_dir, "sources", str(source))
    ).values():
        for line in lines:
            if line.strip():
                e = json.loads(line)
                mapping[os.path.basename(e["path"])] = int(e["batchId"])
    return mapping


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """``{batch id: epoch seconds}`` at which each batch's commit-log
    entry was written, i.e. when its sink work had finished."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint_dir, "commits", "*")):
        base = os.path.basename(p)
        if base.isdigit():
            out[int(base)] = os.stat(p).st_mtime
    return out
