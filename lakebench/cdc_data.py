"""Seeded Debezium changelog for the `cdc_cycles` workload, and a plain
Python SCD2 replay of it that serves as the correctness oracle.

The changelog is a key population loaded by one snapshot batch, followed
by batches of change events: mostly updates, drawn with a skewed key
choice so hot keys carry several versions within one batch, plus
inserts of fresh keys, deletes of live keys and no-op updates (after
image equal to the live image, which the engine's content hash
suppresses). A small share of events carry event times out of lsn
order, and a small share of lines arrive out of order in the drop file.

Event time grows across batches (one window per batch, all inside one
day), so no batch is older than the pipeline's checkpoint and the whole
bronze history stays in one `dt` partition: every cycle re-reads it.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

# 2026-03-02T00:00:00Z; one batch window every 10 minutes keeps even a
# hundred batches inside the same day
BASE_MS = 1_772_409_600_000
WINDOW_MS = 600_000
EPOCH_DAY0 = 20_454

CATEGORIES = ["Electronics", "Clothing", "Home", "Books", "Toys"]
ATTRS = ["product_name", "category", "price", "quantity", "sale_date", "created_at"]

# op mix of a change batch (cumulative percent)
_OPS = [("u", 80), ("noop", 87), ("c", 95), ("d", 100)]
OUT_OF_ORDER = 0.02


@dataclass
class Event:
    op: str  # c, r, u, d
    key: int
    ts_ms: int
    lsn: int
    before: dict | None
    after: dict | None

    def envelope(self) -> str:
        return json.dumps(
            {
                "payload": {
                    "before": self.before,
                    "after": self.after,
                    "op": self.op,
                    "ts_ms": self.ts_ms,
                    "source": {
                        "db": "benchdb",
                        "table": "source_sales",
                        "txId": self.lsn // 2,
                        "lsn": self.lsn,
                    },
                }
            },
            separators=(",", ":"),
        )


@dataclass
class Changelog:
    seed: int
    keys: int
    batch_events: int
    rng: random.Random = field(init=False)
    live: dict[int, dict] = field(default_factory=dict)
    order: list[int] = field(default_factory=list)  # live keys, skew order
    next_id: int = 1
    lsn: int = 1_000
    batches: int = 0

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)

    def _image(self, key: int) -> dict:
        r = self.rng
        cat = r.choice(CATEGORIES)
        return {
            "id": key,
            "product_name": f"{cat} Item {r.randint(1, 3)}",
            "category": cat,
            "price": f"{r.randint(1_000, 100_000) / 100:.2f}",
            "quantity": r.randint(1, 5),
            "sale_date": EPOCH_DAY0 + r.randint(0, 29),
            "created_at": BASE_MS,
        }

    def _skewed_live_key(self) -> int:
        # u**3 puts ~21% of draws on the hottest 1% of keys
        return self.order[int(len(self.order) * self.rng.random() ** 3)]

    def _next_lsn(self) -> int:
        self.lsn += 7
        return self.lsn

    def _window(self) -> tuple[int, int]:
        start = BASE_MS + self.batches * WINDOW_MS
        return start, WINDOW_MS // 2

    def snapshot_batch(self) -> list[Event]:
        """Initial load: one snapshot-read ('r') event per key."""
        start, span = self._window()
        out = []
        for j in range(self.keys):
            key = self.next_id
            self.next_id += 1
            img = self._image(key)
            self.live[key] = img
            self.order.append(key)
            ts = start + j * span // self.keys
            out.append(Event("r", key, ts, self._next_lsn(), None, img))
        self.batches += 1
        return out

    def change_batch(self) -> list[Event]:
        start, span = self._window()
        n = self.batch_events
        r = self.rng
        out = []
        for j in range(n):
            ts = start + j * span // n
            roll = r.random() * 100
            kind = next(op for op, cum in _OPS if roll < cum)
            if kind == "c" or not self.order:
                key = self.next_id
                self.next_id += 1
                img = self._image(key)
                self.live[key] = img
                self.order.append(key)
                out.append(Event("c", key, ts, self._next_lsn(), None, img))
                continue
            key = self._skewed_live_key()
            before = self.live[key]
            if kind == "d":
                del self.live[key]
                self.order.remove(key)
                out.append(Event("d", key, ts, self._next_lsn(), before, None))
            elif kind == "noop":
                out.append(Event("u", key, ts, self._next_lsn(), before, dict(before)))
            else:
                after = {**self._image(key), "category": before["category"],
                         "product_name": before["product_name"]}
                self.live[key] = after
                out.append(Event("u", key, ts, self._next_lsn(), before, after))
        # out-of-order event time: only on keys touched once in the batch,
        # so the generator's live state stays the state the chain reaches
        touched: dict[int, int] = {}
        for e in out:
            touched[e.key] = touched.get(e.key, 0) + 1
        for e in out:
            if touched[e.key] == 1 and r.random() < OUT_OF_ORDER:
                e.ts_ms = min(start + span, max(start, e.ts_ms + r.randint(-5_000, 5_000)))
        self.batches += 1
        return out

    def arrival_order(self, events: list[Event]) -> list[Event]:
        """Drop-file line order: a few lines swapped with a near neighbour."""
        lines = list(events)
        r = self.rng
        for i in range(len(lines)):
            if r.random() < OUT_OF_ORDER:
                j = min(len(lines) - 1, i + r.randint(1, 50))
                lines[i], lines[j] = lines[j], lines[i]
        return lines


def write_drop(path: str, events: list[Event]) -> int:
    """Write one drop file of envelope lines; returns its size in bytes."""
    data = "".join(e.envelope() + "\n" for e in events).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _value_key(img: dict) -> tuple:
    # record_hash stringifies every attribute before hashing
    return tuple(str(img[c]) for c in ATTRS)


def replay_scd2(events: list[Event]) -> list[tuple]:
    """Plain-Python SCD2 over the whole changelog: per key, events in
    (event time, lsn) order; a run of identical content keeps its first
    event; a delete closes the open version and flags it deleted.

    Rows: (id, *ATTRS, effective_start_ms, effective_end_ms | None,
    is_current, is_deleted)."""
    by_key: dict[int, list[Event]] = {}
    for e in events:
        by_key.setdefault(e.key, []).append(e)
    rows = []
    for key, evs in by_key.items():
        evs.sort(key=lambda e: (e.ts_ms, e.lsn))
        chain = []
        prev = object()
        for e in evs:
            h = None if e.op == "d" else _value_key(e.after)
            if h == prev:
                continue
            prev = h
            chain.append(e)
        for i, e in enumerate(chain):
            if e.op == "d":
                continue
            nxt = chain[i + 1] if i + 1 < len(chain) else None
            rows.append(
                (
                    key,
                    *(e.after[c] for c in ATTRS),
                    e.ts_ms,
                    nxt.ts_ms if nxt else None,
                    nxt is None,
                    nxt is not None and nxt.op == "d",
                )
            )
    return rows


def check_invariants(rows: list[tuple]) -> str | None:
    """SCD2 invariants over table rows in replay_scd2's layout: at most one
    open row per key, and no overlapping intervals. Returns the first
    violation, or None."""
    by_key: dict[int, list[tuple]] = {}
    for r in rows:
        by_key.setdefault(r[0], []).append(r)
    n = len(ATTRS)
    for key, rs in by_key.items():
        if sum(1 for r in rs if r[n + 3]) > 1:
            return f"key {key}: more than one open row"
        rs.sort(key=lambda r: r[n + 1])
        for a, b in zip(rs, rs[1:]):
            if a[n + 2] is None or a[n + 2] > b[n + 1]:
                return f"key {key}: overlapping intervals at {b[n + 1]}"
    return None
