"""The one parquet footer reader.

Every fact the exporters, the migrate path, the Iceberg reader and the
fan-out size gate take from a parquet footer comes from `read_footer`:
the row count, per-column null counts and min/max folded over row
groups, the uncompressed size and the top-level parquet field ids. The
format-specific parts — Delta's JSON stats, Iceberg's single-value
binary bounds — are formatters over this record (`delta_log._delta_stats`,
`iceberg_meta._file_column_stats`).

Failures are loud: a missing or corrupt file raises. The one fallback
is the Parquet VARIANT logical type, which this pyarrow rejects
("Thrift LogicalType that is not recognized"); DuckDB then supplies
the row count and the field ids from the footer, and the record
carries no column bounds (engines simply cannot skip such files).

`footer_scope` memoizes reads by path for one call — each exporter
opens every data file's footer once per export. The memo is never
process-wide: a restored tree (`copy2`) puts different bytes at the
same path with the same coarse mtime, so a longer-lived cache keyed by
(path, size, mtime) could serve stale stats.
"""

from __future__ import annotations

import contextlib
import contextvars
from typing import NamedTuple


class ColumnStats(NamedTuple):
    """One top-level column folded over all row groups. `ok` is False
    when any row group lacks min/max or a null count; the formatters
    then emit no bounds and no null count for the column."""

    null_count: int
    min: object
    max: object
    ok: bool


class Footer(NamedTuple):
    num_rows: int
    #: top-level primitive columns in file order (nested leaves skipped)
    columns: dict[str, ColumnStats]
    #: sum of row-group total_byte_size; None on the VARIANT fallback
    uncompressed_bytes: int | None
    #: top-level (name, PARQUET:field_id or None) pairs in file order
    fields: tuple[tuple[str, int | None], ...]


_memo: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "footer_memo", default=None
)


@contextlib.contextmanager
def footer_scope():
    """Memoize `read_footer` by path inside the block (or the decorated
    call). Each scope starts empty: a nested export re-reads rather
    than trusting footers of files an earlier export may have
    rewritten at the same deterministic path."""
    token = _memo.set({})
    try:
        yield
    finally:
        _memo.reset(token)


def read_footer(path: str) -> Footer:
    """The footer record of the parquet file at local `path`."""
    memo = _memo.get()
    if memo is not None and path in memo:
        return memo[path]
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
    except OSError as e:
        if "LogicalType" not in str(e):
            raise
        rec = _variant_footer(path)
    else:
        rec = _footer_of(pf)
    if memo is not None:
        memo[path] = rec
    return rec


def _footer_of(pf) -> Footer:
    md = pf.metadata
    agg: dict[str, list] = {}  # name -> [nulls, min, max, ok]
    size = 0
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        size += row_group.total_byte_size
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaf
            st = col.statistics
            ent = agg.setdefault(name, [0, None, None, st is not None])
            if st is None or not st.has_min_max or st.null_count is None:
                ent[3] = False
                continue
            ent[0] += st.null_count
            ent[1] = st.min if ent[1] is None else min(ent[1], st.min)
            ent[2] = st.max if ent[2] is None else max(ent[2], st.max)
    fields = []
    for f in pf.schema_arrow:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        fields.append((f.name, int(fid) if fid is not None else None))
    return Footer(
        md.num_rows,
        {name: ColumnStats(*ent) for name, ent in agg.items()},
        size,
        tuple(fields),
    )


def _variant_footer(path: str) -> Footer:
    import duckdb

    # parameterized read_parquet: a quote or glob metachar in the path
    # must not break the query or trigger DuckDB globbing
    (num_rows,) = duckdb.execute(
        "SELECT count(*) FROM read_parquet(?)", [path]
    ).fetchone()
    nodes = duckdb.execute(
        "SELECT name, num_children, field_id FROM parquet_schema(?)", [path]
    ).fetchall()

    def subtree_end(i: int) -> int:
        j = i + 1
        for _ in range(nodes[i][1] or 0):
            j = subtree_end(j)
        return j

    fields = []
    i = 1  # nodes[0] is the schema root; walk its direct children
    while i < len(nodes):
        name, _, fid = nodes[i]
        fields.append((name, fid))
        i = subtree_end(i)
    return Footer(num_rows, {}, None, tuple(fields))
