"""The one parquet footer reader (operators/footer.py) and the two stats
formatters on top of it: Delta `add.stats` JSON (`_delta_stats`) and the
Iceberg manifest stats maps (`_file_column_stats`).

- the formatter outputs are pinned byte-for-byte on one multi-row-group
  file covering every stats type (no Spark);
- missing and corrupt files raise through both formatters; only the
  Parquet VARIANT footer, which this pyarrow rejects, falls back to
  DuckDB (row count and field ids, no bounds);
- one export call opens each data file's footer at most once, and a
  new call opens it again (the memo never outlives the call).
"""

from __future__ import annotations

import collections
import datetime as dt
import decimal
import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
    _delta_stats,
    export_delta_log,
)
from hybrid_data_lakehouse_lab_spark.operators.footer import (
    footer_scope,
    read_footer,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    _file_column_stats,
    export_iceberg_metadata,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

COL_IDS = {
    "i": 1, "l": 2, "d": 3, "s": 4, "b": 5, "dt": 6, "ts": 7, "tz": 8,
    "flag": 9, "dec": 10, "nul": 11, "st": 12,
}
TYPES = {
    "i": "int", "l": "long", "d": "double", "s": "string", "b": "binary",
    "dt": "date", "ts": "timestamp", "tz": "timestamptz", "flag": "boolean",
    "dec": "decimal(10, 2)", "nul": "long", "st": "struct",
}


def _write_fixture(path: str) -> None:
    """7 rows in 3 row groups (3 + 3 + 1). The double column carries NaN
    and -0.0, the timestamps odd microseconds (max rounds up in Delta),
    the binary column non-UTF-8 bytes; `nul` is all null and `st` is
    nested (its leaves get no stats entries)."""
    utc = dt.timezone.utc
    tbl = pa.table(
        {
            "i": pa.array([3, -1, 7, None, 0, 2, -9], pa.int32()),
            "l": pa.array([2**40, -5, 11, 12, None, -(2**41), 0], pa.int64()),
            "d": pa.array([1.5, float("nan"), -0.0, None, 0.0, -3.5, 2.25]),
            "s": pa.array(["pear", "apple", None, "zebra", "äpfel", "", "mango"]),
            "b": pa.array(
                [b"\xff\xfe", b"\x00", b"abc", None, b"\x80", b"z", b"\xc3"]
            ),
            "dt": pa.array(
                [
                    dt.date(2024, 3, 1), dt.date(1969, 12, 31), None,
                    dt.date(2000, 2, 29), dt.date(2024, 3, 2),
                    dt.date(1970, 1, 1), dt.date(2038, 1, 19),
                ]
            ),
            "ts": pa.array(
                [
                    dt.datetime(2024, 3, 1, 10, 0, 0, 123_456),
                    dt.datetime(2024, 3, 1, 9, 59, 59, 999_001),
                    None,
                    dt.datetime(2024, 3, 1, 10, 0, 0, 124_001),
                    dt.datetime(1969, 12, 31, 23, 59, 59, 500_500),
                    dt.datetime(2024, 3, 1, 10, 0, 0, 124_000),
                    dt.datetime(2024, 3, 1, 12, 0, 0, 7),
                ],
                pa.timestamp("us"),
            ),
            "tz": pa.array(
                [dt.datetime(2024, 3, 1, 10, 0, 0, 123_456, tzinfo=utc)] * 4
                + [
                    None,
                    dt.datetime(2024, 3, 1, 10, 0, 0, 123_456, tzinfo=utc),
                    dt.datetime(1999, 1, 1, 0, 0, 0, 999_999, tzinfo=utc),
                ],
                pa.timestamp("us", tz="UTC"),
            ),
            "flag": pa.array([True, False, None, True, True, False, True]),
            "dec": pa.array(
                [decimal.Decimal(v) if v else None for v in (
                    "1.25", "-3.50", None, "99.99", "0.00", "7.10", "-0.01"
                )],
                pa.decimal128(10, 2),
            ),
            "nul": pa.array([None] * 7, pa.int64()),
            "st": pa.array(
                [{"x": i, "y": str(i)} for i in range(7)],
                pa.struct([("x", pa.int64()), ("y", pa.string())]),
            ),
        }
    )
    pq.write_table(tbl, path, row_group_size=3)


DELTA_STATS = (
    '{"numRecords": 7, "minValues": {"i": -9, "l": -2199023255552, '
    '"d": -3.5, "s": "", "dt": "1969-12-31", '
    '"ts": "1969-12-31T23:59:59.500Z", '
    '"tz": "1999-01-01T00:00:00.999Z", "flag": false}, '
    '"maxValues": {"i": 7, "l": 1099511627776, "d": 2.25, '
    '"s": "\\u00e4pfel", "dt": "2038-01-19", '
    '"ts": "2024-03-01T12:00:00.001Z", '
    '"tz": "2024-03-01T10:00:00.124Z", "flag": true}, '
    '"nullCount": {"i": 1, "l": 1, "d": 1, "s": 1, "b": 1, "dt": 1, '
    '"ts": 1, "tz": 1, "flag": 1, "dec": 1}}'
)

ICEBERG_STATS = (
    [
        {"key": 1, "value": 7}, {"key": 2, "value": 7},
        {"key": 3, "value": 7}, {"key": 4, "value": 7},
        {"key": 5, "value": 7}, {"key": 6, "value": 7},
        {"key": 7, "value": 7}, {"key": 8, "value": 7},
        {"key": 9, "value": 7}, {"key": 10, "value": 7},
        {"key": 11, "value": 7},
    ],
    [
        {"key": 1, "value": 1}, {"key": 2, "value": 1},
        {"key": 3, "value": 1}, {"key": 4, "value": 1},
        {"key": 5, "value": 1}, {"key": 6, "value": 1},
        {"key": 7, "value": 1}, {"key": 8, "value": 1},
        {"key": 9, "value": 1}, {"key": 10, "value": 1},
    ],
    [
        {"key": 1, "value": b"\xf7\xff\xff\xff"},
        {"key": 2, "value": b"\x00\x00\x00\x00\x00\xfe\xff\xff"},
        {"key": 3, "value": b"\x00\x00\x00\x00\x00\x00\x0c\xc0"},
        {"key": 4, "value": b""},
        {"key": 6, "value": b"\xff\xff\xff\xff"},
        {"key": 7, "value": b"\xd4`\xf8\xff\xff\xff\xff\xff"},
        {"key": 8, "value": b"?B3\xafR@\x03\x00"},
        {"key": 9, "value": b"\x00"},
    ],
    [
        {"key": 1, "value": b"\x07\x00\x00\x00"},
        {"key": 2, "value": b"\x00\x00\x00\x00\x00\x01\x00\x00"},
        {"key": 3, "value": b"\x00\x00\x00\x00\x00\x00\x02@"},
        {"key": 4, "value": b"\xc3\xa4pfel"},
        {"key": 6, "value": b"\x17a\x00\x00"},
        {"key": 7, "value": b"\x07P\x87\x1d\x98\x12\x06\x00"},
        {"key": 8, "value": b"@\xeaap\x96\x12\x06\x00"},
        {"key": 9, "value": b"\x01"},
    ],
)


def test_formatters_byte_exact(tmp_path):
    p = str(tmp_path / "f.parquet")
    _write_fixture(p)
    assert pq.ParquetFile(p).metadata.num_row_groups == 3
    assert _delta_stats(p) == DELTA_STATS
    assert _file_column_stats(p, COL_IDS, TYPES) == ICEBERG_STATS


def test_footer_record(tmp_path):
    p = str(tmp_path / "f.parquet")
    _write_fixture(p)
    ft = read_footer(p)
    md = pq.ParquetFile(p).metadata
    assert ft.num_rows == 7
    assert ft.uncompressed_bytes == sum(
        md.row_group(i).total_byte_size for i in range(md.num_row_groups)
    )
    # top-level primitive columns only, in file order; `st` is nested
    assert list(ft.columns) == list(COL_IDS)[:-1]
    assert ft.columns["nul"].ok is False  # no min/max in any row group
    assert ft.columns["i"] == (1, -9, 7, True)
    assert [n for n, _ in ft.fields] == list(COL_IDS)
    assert all(fid is None for _, fid in ft.fields)
    # parquet field ids (what real Iceberg writers emit) come through
    ids = pa.schema(
        [
            pa.field("a", pa.int64(), metadata={b"PARQUET:field_id": b"7"}),
            pa.field("b", pa.string(), metadata={b"PARQUET:field_id": b"3"}),
        ]
    )
    q = str(tmp_path / "ids.parquet")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}, schema=ids), q)
    assert read_footer(q).fields == (("a", 7), ("b", 3))


def _counting_opens(monkeypatch) -> collections.Counter:
    opens: collections.Counter = collections.Counter()
    real = pq.ParquetFile

    def counting(path, *a, **k):
        opens[str(path)] += 1
        return real(path, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    return opens


def test_footer_scope_memo_is_per_scope(tmp_path, monkeypatch):
    p = str(tmp_path / "f.parquet")
    _write_fixture(p)
    opens = _counting_opens(monkeypatch)
    read_footer(p)
    read_footer(p)
    assert opens[p] == 2  # no memo outside a scope
    opens.clear()
    with footer_scope():
        read_footer(p)
        read_footer(p)
        assert opens[p] == 1
        with footer_scope():  # a nested scope starts empty
            read_footer(p)
        assert opens[p] == 2
    read_footer(p)
    assert opens[p] == 3


def test_missing_and_corrupt_files_raise(tmp_path):
    missing = str(tmp_path / "missing.parquet")
    junk = str(tmp_path / "junk.parquet")
    with open(junk, "wb") as fh:
        fh.write(b"not a parquet file")
    good = str(tmp_path / "f.parquet")
    _write_fixture(good)
    truncated = str(tmp_path / "truncated.parquet")
    with open(good, "rb") as fh:
        body = fh.read()
    with open(truncated, "wb") as fh:
        fh.write(body[: len(body) // 2] + body[-8:])
    with pytest.raises(FileNotFoundError):
        read_footer(missing)
    for bad in (missing, junk, truncated):
        with pytest.raises((OSError, ValueError)):
            _delta_stats(bad)
        with pytest.raises((OSError, ValueError)):
            _file_column_stats(bad, COL_IDS, TYPES)


def test_variant_footer_falls_back_without_bounds(spark, tmp_path):
    from pyspark.sql import functions as F

    from hybrid_data_lakehouse_lab_spark.operators.util import _input_bytes

    out = tmp_path / "v"
    spark.range(5).select(
        "id",
        F.parse_json(F.format_string('{"k": %d}', "id")).alias("v"),
        F.struct(F.col("id").alias("x")).alias("s"),
    ).coalesce(1).write.parquet(str(out))
    (p,) = [str(f) for f in out.iterdir() if f.name.endswith(".parquet")]
    with pytest.raises(OSError, match="LogicalType"):
        pq.ParquetFile(p)  # the case the fallback exists for
    ft = read_footer(p)
    assert ft.num_rows == 5
    assert ft.columns == {} and ft.uncompressed_bytes is None
    assert ft.fields == (("id", None), ("v", None), ("s", None))
    assert json.loads(_delta_stats(p)) == {
        "numRecords": 5, "minValues": {}, "maxValues": {}, "nullCount": {},
    }
    ids = {"id": 1, "v": 2, "s": 3}
    types = {"id": "long", "v": "variant", "s": "struct"}
    assert _file_column_stats(p, ids, types) == (None, None, None, None)
    assert _input_bytes([p]) is None  # cannot size: treated as big


def test_each_export_opens_each_footer_once(spark, tmp_path, monkeypatch):
    """Append, pure delete, append: the Delta export (deletion vectors)
    and the Iceberg v2 export (append and position-delete diffs) read
    every data file's row count and stats from one footer open per
    call; a second call opens them again."""
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.range(0, 60, 1, 3).select("id", (F.col("id") % 4).alias("k"))
    t.write(base, committed_at_ms=1000)
    t.write(base.where("id % 5 != 0"), committed_at_ms=2000)
    t.write(
        base.where("id % 5 != 0").unionByName(
            spark.range(60, 70, 1, 1).select("id", (F.col("id") % 4).alias("k"))
        ),
        committed_at_ms=3000,
    )
    opens = _counting_opens(monkeypatch)
    for export in (
        lambda: export_delta_log(t, mor_deletes=True),
        lambda: export_iceberg_metadata(t, format_version=2),
        lambda: export_iceberg_metadata(t, format_version=2),
    ):
        opens.clear()
        export()
        assert opens, "the export read no footers"
        twice = {p: n for p, n in opens.items() if n > 1}
        assert not twice, twice
