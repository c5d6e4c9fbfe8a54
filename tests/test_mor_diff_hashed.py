"""Focused tests for the round-12 narrow-shuffle position diff: the
`check_excess=False` path groups by a 128-bit row-value hash instead of
the full-row struct (operators/mor_diff.py). These pin (a) hash-path ==
struct-path output on duplicate-heavy and null-heavy data, (b) the
null-skip hazard of xxhash64 (null positions must be part of the hash
stream), and (c) the count-identity contract callers rely on."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hybrid_data_lakehouse_lab_spark.operators.mor_diff import (
    _append_diff,
    _position_delete_diff,
    _upsert_diff,
)


@pytest.fixture()
def diff_dirs(spark, tmp_path):
    base_d = str(tmp_path / "base")
    child_d = str(tmp_path / "child")
    rows = [
        (i % 7, None if i % 5 == 0 else f"v{i % 3}", float(i % 4))
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "k INT, s STRING, x DOUBLE")
    df.repartition(3).write.parquet(base_d)
    base_back = spark.read.parquet(base_d)
    base_back.where("NOT (k = 3 AND x = 1.0)").repartition(2).write.parquet(
        child_d
    )
    return base_d, child_d


def test_hashed_matches_struct_path(spark, diff_dirs):
    base_d, child_d = diff_dirs
    hashed = _position_delete_diff(spark, base_d, None, child_d, check_excess=False)
    struct = _position_delete_diff(spark, base_d, None, child_d, check_excess=True)
    h = {(r.file_path, r.pos) for r in hashed.collect()}
    s = {(r.file_path, r.pos) for r in struct.collect()}
    assert h == s and len(h) > 0
    # count identity the exporters validate: |base| - |positions| == |child|
    n_base = spark.read.parquet(base_d).count()
    n_child = spark.read.parquet(child_d).count()
    assert n_base - len(h) == n_child


def test_null_positions_enter_the_hash_stream(spark, tmp_path):
    """xxhash64 SKIPS null children, so (null,'a') and ('a',null) hash
    equal without the isnull interleave — this data would then delete
    the wrong row. The hashed diff must delete a (null,'a') occurrence,
    never the ('a',null) row."""
    b, c = str(tmp_path / "b"), str(tmp_path / "c")
    schema = "s1 STRING, s2 STRING, x DOUBLE"
    spark.createDataFrame(
        [(None, "a", 1.0), ("a", None, 1.0), (None, "a", 1.0)], schema
    ).write.parquet(b)
    spark.createDataFrame(
        [(None, "a", 1.0), ("a", None, 1.0)], schema
    ).write.parquet(c)
    d = _position_delete_diff(spark, b, None, c, check_excess=False)
    positions = d.collect()
    assert len(positions) == 1
    full = (
        spark.read.parquet(b)
        .withColumn(
            "_ff",
            F.regexp_replace(
                F.col("_metadata.file_path"), "^[a-zA-Z0-9+.-]+:/+", "/"
            ),
        )
        .withColumn("_pp", F.col("_metadata.row_index"))
    )
    deleted = (
        full.join(
            d,
            (full["_ff"] == d["file_path"]) & (full["_pp"] == d["pos"]),
        )
        .select("s1", "s2")
        .collect()
    )
    assert deleted[0].s1 is None and deleted[0].s2 == "a"


def test_append_diff_matches_exceptall(spark, tmp_path):
    """The narrow append diff must return exactly child − base as a
    multiset (the former exceptAll semantics), including duplicate and
    null rows, and must return None when base ⊄ child."""
    b, c = str(tmp_path / "b"), str(tmp_path / "c")
    schema = "k INT, s STRING"
    base_rows = [(1, "a"), (1, "a"), (2, None), (3, "c")]
    appended_rows = [(1, "a"), (2, None), (9, "z")]
    spark.createDataFrame(base_rows, schema).repartition(2).write.parquet(b)
    spark.createDataFrame(base_rows + appended_rows, schema).repartition(
        2
    ).write.parquet(c)
    out = _append_diff(spark, b, None, c)
    got = sorted([tuple(r) for r in out.collect()])
    ref = sorted(
        [
            tuple(r)
            for r in spark.read.parquet(c)
            .exceptAll(spark.read.parquet(b))
            .collect()
        ]
    )
    assert got == ref == sorted(appended_rows)
    # not-an-append: child missing a base row ((3,'c') is dropped and
    # never re-appended)
    c2 = str(tmp_path / "c2")
    spark.createDataFrame(
        base_rows[:3] + appended_rows, schema
    ).write.parquet(c2)
    assert _append_diff(spark, b, None, c2) is None


def test_upsert_diff_single_join_semantics(spark, tmp_path):
    """The round-12 single-key-join upsert diff must classify exactly
    like the former double anti-join: changed = new + updated child
    rows, del_keys = deleted + replaced parent keys, null keys matched
    null-safely."""
    b, c = str(tmp_path / "p"), str(tmp_path / "c")
    schema = "id INT, v STRING, x DOUBLE"
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (None, "n", 0.0)],
        schema,
    ).write.parquet(b)
    spark.createDataFrame(
        [
            (1, "a", 1.0),  # unchanged
            (2, "B", 2.0),  # updated
            (6, "f", 6.0),  # new
            (None, "n2", 0.0),  # null key, updated
        ],
        schema,
    ).write.parquet(c)
    changed, del_keys = _upsert_diff(spark, b, c, ["id"])
    got_changed = sorted(
        [tuple(r) for r in changed.collect()], key=lambda t: (t[0] is None, t)
    )
    assert got_changed == [(2, "B", 2.0), (6, "f", 6.0), (None, "n2", 0.0)]
    got_del = sorted([r.id for r in del_keys.collect()], key=lambda v: (v is None, v))
    assert got_del == [2, 3, None]
    assert [f.name for f in del_keys.schema.fields] == ["id"]
    # non-unique key still refuses loudly
    c2 = str(tmp_path / "c2")
    spark.createDataFrame([(1, "a", 1.0), (1, "z", 9.0)], schema).write.parquet(c2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not unique"):
        _upsert_diff(spark, b, c2, ["id"])


def test_prior_deletes_masked_before_hashing(spark, tmp_path):
    """Already-deleted positions must be excluded from the base before
    the hash diff (same contract as the struct path)."""
    b, c = str(tmp_path / "b"), str(tmp_path / "c")
    schema = "k INT, s STRING"
    spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (3, "c")], schema
    ).coalesce(1).write.parquet(b)
    # prior delete: one (1, 'a') occurrence (pos 0 of the single file)
    f = [
        x
        for x in os.listdir(b)
        if x.endswith(".parquet") and not x.startswith((".", "_"))
    ][0]
    prior = spark.createDataFrame(
        [(os.path.join(b, f), 0)], "file_path STRING, pos BIGINT"
    )
    # child drops the remaining (1,'a') and keeps (2,'b'), (3,'c')
    spark.createDataFrame([(2, "b"), (3, "c")], schema).write.parquet(c)
    d = _position_delete_diff(spark, b, prior, c, check_excess=False)
    positions = {(r.file_path, r.pos) for r in d.collect()}
    assert positions == {(os.path.join(b, f), 1)}


def test_verification_broadcast_is_capped(spark, tmp_path, monkeypatch):
    """Both hash diffs broadcast the hash groups that a change touches
    only partially, to re-check them by full value. Above
    MAX_VERIFY_CANDIDATES candidate positions in such groups they
    return None (the exporter's rewrite path) instead of broadcasting;
    at the cap they verify and return the exact diff."""
    from hybrid_data_lakehouse_lab_spark.operators import mor_diff

    schema = "k INT, s STRING"
    ten = str(tmp_path / "ten")  # every value 10 times
    five = str(tmp_path / "five")  # every value 5 times
    spark.createDataFrame(
        [(i % 10, f"s{i % 10}") for i in range(100)], schema
    ).repartition(2).write.parquet(ten)
    spark.createDataFrame(
        [(v, f"s{v}") for v in range(10) for _ in range(5)], schema
    ).write.parquet(five)
    # deleting 5 of 10 occurrences per value: 50 partial candidates;
    # appending 5 more per value: 50 partial candidates
    monkeypatch.setattr(mor_diff, "MAX_VERIFY_CANDIDATES", 49)
    assert _position_delete_diff(spark, ten, None, five, check_excess=False) is None
    assert _append_diff(spark, five, None, ten) is None
    monkeypatch.setattr(mor_diff, "MAX_VERIFY_CANDIDATES", 50)
    d = _position_delete_diff(spark, ten, None, five, check_excess=False)
    assert d is not None and d.count() == 50
    a = _append_diff(spark, five, None, ten)
    assert a is not None
    assert sorted(map(tuple, a.collect())) == sorted(
        (v, f"s{v}") for v in range(10) for _ in range(5)
    )
