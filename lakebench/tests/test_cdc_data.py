"""The changelog generator and its plain-Python SCD2 replay oracle."""

import json

import cdc_data
from cdc_data import ATTRS, Event, check_invariants, replay_scd2


def img(key, price="1.00", qty=1):
    return {"id": key, "product_name": "Toys Item 1", "category": "Toys", "price": price,
            "quantity": qty, "sale_date": 20_454, "created_at": 0}


def test_replay_suppresses_noops_and_closes_deletes():
    evs = [
        Event("c", 1, 10, 1, None, img(1, "1.00")),
        Event("u", 1, 20, 2, img(1), img(1, "1.00")),  # no-op: suppressed
        Event("u", 1, 30, 3, img(1), img(1, "2.00")),
        Event("d", 1, 40, 4, img(1, "2.00"), None),
        Event("c", 1, 50, 5, None, img(1, "2.00")),  # same content after a delete
    ]
    rows = replay_scd2(evs)
    n = len(ATTRS)
    spans = sorted((r[n + 1], r[n + 2], r[n + 3], r[n + 4]) for r in rows)
    assert spans == [(10, 30, False, False), (30, 40, False, True), (50, None, True, False)]
    assert check_invariants(rows) is None


def test_replay_orders_by_event_time_then_lsn():
    evs = [
        Event("u", 2, 30, 9, img(2), img(2, "3.00")),
        Event("c", 2, 10, 8, None, img(2, "1.00")),  # arrives later, happened first
    ]
    rows = sorted(replay_scd2(evs), key=lambda r: r[len(ATTRS) + 1])
    assert [r[3] for r in rows] == ["1.00", "3.00"]


def test_invariants_catch_two_open_rows_and_overlaps():
    n = len(ATTRS)
    base = (1, *["x"] * n)
    assert "open" in check_invariants([(*base, 10, None, True, False), (*base, 20, None, True, False)])
    assert "overlap" in check_invariants([(*base, 10, 30, False, False), (*base, 20, None, True, False)])


def test_changelog_is_deterministic_and_time_ordered():
    def build(seed):
        log = cdc_data.Changelog(seed, keys=200, batch_events=150)
        return [log.snapshot_batch()] + [log.change_batch() for _ in range(3)], log

    a, log = build(7)
    b, _ = build(7)
    assert [e.envelope() for bt in a for e in bt] == [e.envelope() for bt in b for e in bt]
    assert [e.envelope() for e in build(8)[0][1]] != [e.envelope() for e in a[1]]
    for prev, nxt in zip(a, a[1:]):
        assert max(e.ts_ms for e in prev) < min(e.ts_ms for e in nxt)
    ops = {e.op for e in a[1] + a[2] + a[3]}
    assert ops == {"c", "u", "d"}
    # the generator's live state is the state the replay reaches
    rows = replay_scd2([e for bt in a for e in bt])
    live = {r[0]: r for r in rows if r[-2]}
    assert set(live) == set(log.live)
    assert check_invariants(rows) is None


def test_batches_carry_hot_keys_and_noops():
    log = cdc_data.Changelog(3, keys=1_000, batch_events=1_000)
    log.snapshot_batch()
    batch = log.change_batch()
    per_key = {}
    for e in batch:
        per_key[e.key] = per_key.get(e.key, 0) + 1
    assert max(per_key.values()) >= 5  # multi-version chains within a batch
    assert any(e.op == "u" and e.before == e.after for e in batch)


def test_envelope_is_debezium_shaped():
    e = Event("u", 5, 123, 77, img(5), img(5, "9.99"))
    p = json.loads(e.envelope())["payload"]
    assert p["op"] == "u" and p["ts_ms"] == 123
    assert p["source"]["lsn"] == 77 and p["after"]["price"] == "9.99"
