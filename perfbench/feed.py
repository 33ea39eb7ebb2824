"""Seeded OLR-style change feed and the pure-Python LWW oracle.

The generator writes JSON-lines change events in the flat envelope the
engine's file source decodes (``schemas.CHANGE_EVENT_SCHEMA``): inserts,
updates and deletes, keys rewritten several times inside one
transaction, deletes of keys that do not exist, corrupt lines and events
for tables the pipeline does not capture. The same seed gives the same
bytes: every value derives from the seed and the SCN, never the clock.

``LWWModel`` is the oracle. It re-reads the generated lines the way the
engine must interpret them (corrupt and uncaptured lines skipped,
last writer wins per key by ``(scn, seq)``, deletes leave tombstones)
and yields each table's current state as canonical strings, the form
Spark's ``cast(... as string)`` prints under a UTC session.
"""

from __future__ import annotations

import bisect
import datetime as dt
import functools
import json
import os
import random
from dataclasses import dataclass
from decimal import Decimal

_EPOCH = dt.datetime(2026, 1, 1)
_CENTS = Decimal("0.01")
_WORDS = (
    "steel oak brass linen amber cobalt maple slate ivory onyx "
    "quartz cedar velvet copper granite jade"
).split()


@dataclass(frozen=True)
class TableSpec:
    """One captured table: owner, name and ``(column, kind)`` pairs.

    Kinds: ``int``, ``str``, ``dec2`` (NUMBER(p,2)), ``ts`` (DATE with
    time) and ``text`` (nullable free text). The first column is the key.
    """

    owner: str
    table: str
    columns: tuple[tuple[str, str], ...]

    @property
    def names(self) -> list[str]:
        return [c for c, _ in self.columns]


PRODUCT = TableSpec(
    "OLR_DB",
    "PRODUCT",
    (
        ("id", "int"),
        ("name", "str"),
        ("description", "text"),
        ("price", "dec2"),
        ("stock", "int"),
        ("created_date", "ts"),
        ("updated_date", "ts"),
    ),
)
CUSTOMER = TableSpec(
    "OLR_DB",
    "CUSTOMER",
    (
        ("id", "int"),
        ("name", "str"),
        ("email", "text"),
        ("balance", "dec2"),
        ("updated_date", "ts"),
    ),
)
ORDERS = TableSpec(
    "OLR_DB",
    "ORDERS",
    (
        ("id", "int"),
        ("customer_id", "int"),
        ("amount", "dec2"),
        ("status", "str"),
        ("updated_date", "ts"),
    ),
)
#: shares of the feed's lines: corrupt, for uncaptured tables, inserts
#: (re-inserts of deleted keys), deletes of keys that never existed; of
#: changes to live keys, deletes; of changes, followed by 1-3 more
#: rewrites of the same key in the same transaction
CORRUPT_SHARE = 0.01
UNCAPTURED_SHARE = 0.05
INSERT_SHARE = 0.05
ABSENT_SHARE = 0.005
DELETE_SHARE = 0.05
BURST_SHARE = 0.03

#: tables the feed mentions but no pipeline captures: a foreign table of
#: the captured owner, and the captured table name under another owner
UNCAPTURED = (
    TableSpec("OLR_DB", "AUDIT_LOG", PRODUCT.columns),
    TableSpec("HR", "PRODUCT", PRODUCT.columns),
)


@functools.lru_cache(maxsize=64)
def _day(days: int) -> str:
    return (_EPOCH + dt.timedelta(days=days)).strftime("%Y-%m-%d")


def _ts(seconds: int) -> str:
    d, r = divmod(seconds, 86_400)
    h, r = divmod(r, 3600)
    m, s = divmod(r, 60)
    return f"{_day(d)} {h:02d}:{m:02d}:{s:02d}"


def _dec(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


def _mix(x: int) -> int:
    """splitmix64 finalizer: a cheap, well-spread hash of ``x``."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _json_row(spec: TableSpec, row: tuple) -> str:
    """A row image as a JSON object. Rows hold canonical strings: ints
    and two-decimal amounts are valid JSON number literals as they are;
    the generated strings contain no character that needs escaping."""
    parts = []
    for (name, kind), v in zip(spec.columns, row):
        if v is None:
            parts.append(f'"{name}":null')
        elif kind in ("int", "dec2"):
            parts.append(f'"{name}":{v}')
        else:
            parts.append(f'"{name}":"{v}"')
    return "{" + ",".join(parts) + "}"


class FeedGenerator:
    """Deterministic change-event source over a fixed set of tables.

    ``keyspace`` maps table name to its key count; every key in
    ``[0, n)`` is live at the start (the bootstrap snapshot).
    ``zipf_s`` > 0 draws keys Zipf-skewed (key ``k`` has weight
    ``1/(k+1)**s``); 0 draws them uniformly. ``weights`` maps table
    name to its share of the captured events. Rows are tuples of
    canonical strings (see ``canonical``).
    """

    def __init__(
        self,
        seed: int,
        tables: tuple[TableSpec, ...],
        keyspace: dict[str, int],
        weights: dict[str, float] | None = None,
        zipf_s: float = 0.0,
    ) -> None:
        self.seed = seed
        self.rng = random.Random(seed)
        self.tables = {t.table: t for t in tables}
        self.keyspace = dict(keyspace)
        w = weights or {t.table: 1.0 for t in tables}
        self._names = [t.table for t in tables]
        total = sum(w[n] for n in self._names)
        acc, self._table_cdf = 0.0, []
        for n in self._names:
            acc += w[n] / total
            self._table_cdf.append(acc)
        self._table_cdf[-1] = 1.0
        self._zipf_cdf: dict[str, list[float]] = {}
        if zipf_s > 0:
            for n, k in self.keyspace.items():
                acc, cdf = 0.0, []
                for i in range(k):
                    acc += 1.0 / (i + 1) ** zipf_s
                    cdf.append(acc)
                self._zipf_cdf[n] = [c / acc for c in cdf]
        self.scn = 1000
        # the generator's own view of rows changed since the snapshot
        # (None = deleted) and of deleted keys: it writes plausible
        # before-images and picks keys to re-insert; the oracle never
        # reads it
        self.changed: dict[str, dict[int, tuple | None]] = {n: {} for n in self._names}
        self.dead: dict[str, list[int]] = {n: [] for n in self._names}

    # -- rows -------------------------------------------------------------

    def snapshot_row(self, table: str, key: int) -> tuple:
        """The bootstrap image of ``key``: a pure function of the seed,
        the table and the key, so the snapshot needs no stored state."""
        h = _mix((self.seed << 40) ^ (self._names.index(table) << 34) ^ key)
        out = []
        for i, (name, kind) in enumerate(self.tables[table].columns):
            v = (h >> (5 * i)) & 0xFFFFFF
            if name == "id":
                out.append(str(key))
            elif kind == "ts":
                out.append(_ts(key))
            elif kind == "int":
                out.append(str(v % 10_000))
            elif kind == "dec2":
                out.append(_dec(100 + v % 9_999_900))
            elif kind == "str":
                out.append(f"{_WORDS[v % 16]}-{key}")
            else:
                out.append(None if v % 5 == 0 else f"{_WORDS[v % 16]} {_WORDS[v // 16 % 16]}")
        return tuple(out)

    def snapshot(self, table: str) -> list[tuple]:
        """The bootstrap rows of ``table``: every key of its keyspace."""
        return [self.snapshot_row(table, k) for k in range(self.keyspace[table])]

    def _image(self, spec: TableSpec, key: int, scn: int, created: str | None) -> tuple:
        r = self.rng
        out = []
        for name, kind in spec.columns:
            if name == "id":
                out.append(str(key))
            elif name == "created_date":
                out.append(created or _ts(key))
            elif kind == "ts":
                out.append(_ts(86_400 + scn))
            elif kind == "int":
                out.append(str(r.randrange(10_000)))
            elif kind == "dec2":
                out.append(_dec(r.randrange(100, 10_000_000)))
            elif kind == "str":
                out.append(f"{r.choice(_WORDS)}-{key}-{r.randrange(1000)}")
            else:  # nullable text
                out.append(
                    None if r.random() < 0.2
                    else f"{r.choice(_WORDS)} {r.choice(_WORDS)} {r.choice(_WORDS)}"
                )
        return tuple(out)

    def _current(self, table: str, key: int) -> tuple | None:
        changed = self.changed[table]
        if key in changed:
            return changed[key]
        if key < self.keyspace[table]:
            return self.snapshot_row(table, key)
        return None

    # -- events -----------------------------------------------------------

    def _pick_key(self, table: str) -> int:
        n = self.keyspace[table]
        cdf = self._zipf_cdf.get(table)
        if cdf is None:
            return self.rng.randrange(n)
        return min(bisect.bisect_left(cdf, self.rng.random()), n - 1)

    @staticmethod
    def _event(spec: TableSpec, scn: int, seq: int, op: str,
               before: tuple | None, after: tuple | None) -> str:
        b = "null" if before is None else _json_row(spec, before)
        a = "null" if after is None else _json_row(spec, after)
        return (
            f'{{"scn":{scn},"seq":{seq},"tm":{scn * 1_000_000},'
            f'"xid":"0x{scn:010x}","db":"ORCLPDB1","op":"{op}",'
            f'"rid":"AAAR{seq:05d}{scn:08d}","schema_owner":"{spec.owner}",'
            f'"schema_table":"{spec.table}","before":{b},"after":{a}}}'
        )

    def _change(self, table: str, key: int, scn: int, seq: int) -> str:
        spec = self.tables[table]
        cur = self._current(table, key)
        if cur is None:
            new = self._image(spec, key, scn, None)
            self.changed[table][key] = new
            return self._event(spec, scn, seq, "c", None, new)
        if self.rng.random() < DELETE_SHARE:
            self.changed[table][key] = None
            self.dead[table].append(key)
            return self._event(spec, scn, seq, "d", cur, None)
        created = (
            cur[spec.names.index("created_date")]
            if "created_date" in spec.names else None
        )
        new = self._image(spec, key, scn, created)
        self.changed[table][key] = new
        return self._event(spec, scn, seq, "u", cur, new)

    def _insert(self, table: str, scn: int, seq: int) -> tuple[int, str]:
        """Re-insert a deleted key, or insert a new one past the keyspace
        when none is dead."""
        dead = self.dead[table]
        if dead:
            key = dead.pop(self.rng.randrange(len(dead)))
        else:
            key = self.keyspace[table] + len(self.changed[table])
        return key, self._change(table, key, scn, seq)

    def _ghost_delete(self, table: str, scn: int, seq: int) -> tuple[int, str]:
        """Delete a key that never existed: a tombstone with no row."""
        spec = self.tables[table]
        key = self.keyspace[table] * 4 + self.rng.randrange(1_000_000)
        return key, self._event(spec, scn, seq, "d", self._image(spec, key, scn, None), None)

    def transaction(self, n_events: int) -> list[str]:
        """One committed transaction of about ``n_events`` lines (one
        SCN, ``seq`` 1..n), the unit the feed writes as one file."""
        self.scn += 1
        scn, rng = self.scn, self.rng
        lines: list[str] = []
        seq = 0
        while len(lines) < n_events:
            seq += 1
            r = rng.random()
            if r < CORRUPT_SHARE:
                lines.append(_corrupt_line(rng, scn, seq))
                continue
            r -= CORRUPT_SHARE
            if r < UNCAPTURED_SHARE:
                spec = rng.choice(UNCAPTURED)
                img = self._image(spec, rng.randrange(1000), scn, None)
                lines.append(self._event(spec, scn, seq, "u", img, img))
                continue
            r -= UNCAPTURED_SHARE
            table = self._names[bisect.bisect_left(self._table_cdf, rng.random())]
            if r < INSERT_SHARE:
                key, line = self._insert(table, scn, seq)
            elif r < INSERT_SHARE + ABSENT_SHARE:
                key, line = self._ghost_delete(table, scn, seq)
            else:
                key = self._pick_key(table)
                line = self._change(table, key, scn, seq)
            lines.append(line)
            if rng.random() < BURST_SHARE:
                # the same key rewritten again inside this transaction
                for _ in range(rng.randrange(1, 4)):
                    seq += 1
                    lines.append(self._change(table, key, scn, seq))
        return lines


def _corrupt_line(rng: random.Random, scn: int, seq: int) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return f'{{"scn":{scn},"seq":{seq},"op":"u","before":{{"id":'
    if kind == 1:
        return "\x7fnot json at all"
    return "{}"


def write_file(directory: str, name: str, lines: list[str]) -> str:
    """Write ``lines`` as one JSON-lines file, atomically: written
    beside the watched directory, then renamed into it, so the stream
    never lists a half-written file."""
    stage = directory.rstrip("/") + ".staging"
    os.makedirs(stage, exist_ok=True)
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(stage, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    path = os.path.join(directory, name)
    os.replace(tmp, path)
    return path


# -- oracle ----------------------------------------------------------------


def canonical(kind: str, value) -> str | None:
    """A decoded JSON value as Spark prints its column cast to string."""
    if value is None:
        return None
    if kind == "int":
        return str(int(value))
    if kind == "dec2":
        return str(Decimal(str(value)).quantize(_CENTS))
    return str(value)


class LWWModel:
    """Last-writer-wins current state of each captured table, computed
    in plain Python from the generated lines."""

    def __init__(self, tables: tuple[TableSpec, ...]) -> None:
        self.specs = {(t.owner, t.table): t for t in tables}
        # (owner, table) -> key -> ((scn, seq), deleted, row)
        self.rows: dict[tuple[str, str], dict[str, tuple]] = {
            k: {} for k in self.specs
        }

    def load_snapshot(self, table: TableSpec, rows: list[tuple]) -> None:
        """Rows the state was bootstrapped with, at ``(scn, seq) = (0, 0)``."""
        tab = self.rows[(table.owner, table.table)]
        for row in rows:
            tab[row[0]] = ((0, 0), False, tuple(row))

    def apply_line(self, line: str) -> bool:
        """Apply one feed line; returns whether it belongs to a captured
        table's history (corrupt, foreign and marker lines do not)."""
        try:
            ev = json.loads(line, parse_float=str)
        except ValueError:
            return False
        if not isinstance(ev, dict) or ev.get("op") not in ("c", "u", "d"):
            return False
        spec = self.specs.get((ev.get("schema_owner"), ev.get("schema_table")))
        if spec is None:
            return False
        deleted = ev["op"] == "d"
        image = ev.get("before" if deleted else "after") or {}
        row = tuple(canonical(kind, image.get(c)) for c, kind in spec.columns)
        order = (int(ev["scn"]), int(ev.get("seq") or 0))
        tab = self.rows[(spec.owner, spec.table)]
        prev = tab.get(row[0])
        if prev is None or order > prev[0]:
            tab[row[0]] = (order, deleted, row)
        return True

    def current(self, table: TableSpec) -> dict[str, tuple]:
        """Visible rows (deletes dropped), keyed by the canonical key."""
        return {
            k: row
            for k, (_, deleted, row) in self.rows[(table.owner, table.table)].items()
            if not deleted
        }


def diff_rows(want: dict[str, tuple], got: dict[str, tuple]) -> tuple[int, str]:
    """Number of keys whose row differs, is missing or is extra, and a
    description of the first such key ("" when there is none)."""
    bad = sorted(k for k in want.keys() | got.keys() if want.get(k) != got.get(k))
    if not bad:
        return 0, ""
    k = bad[0]
    return len(bad), f"key {k}: want {want.get(k)}, got {got.get(k)}"
