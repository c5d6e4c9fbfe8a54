"""`mor_export`: the merge-on-read interop path, one fixed commit pair per op.

Set-up writes a one-version table (seeded rows in a few files), exports
its Delta log and Iceberg v3 metadata, and keeps a pristine copy. Every
op restores that table in place and times the commit of the same seeded
sequence — one pure delete (the deletion-vector / position-diff path),
then one pure append (the append-diff path) — plus both exports: the time
until external Delta and Iceberg readers can see the change. It then
times a masked read through each reader.
"""

from __future__ import annotations

import glob
import json
import os
import time

from common import OpResult, bytes_written, restore_tree, timing_record, tree_state, write_amp

SIZES = {
    "bench": {"rows": 20_000, "files": 4, "delete_per_mille": 20, "append": 1_000},
    "toy": {"rows": 2_000, "files": 2, "delete_per_mille": 50, "append": 100},
}


class MorExport:
    # with one warm-up op the first timed op was still 10-20 % slower
    WARMUP_OPS = 2

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.cfg = SIZES[size]
        self.root = os.path.join(work, "table")
        self.pristine = os.path.join(work, "table.pristine")
        self.expected = None

    # -- inputs ---------------------------------------------------------------
    def rows(self, start: int, n: int):
        """Seeded rows with ids [start, start + n): a pure function of
        (seed, id), so every op commits the same data."""
        from pyspark.sql import functions as F

        s = self.seed
        h = lambda salt: F.xxhash64(F.col("id"), F.lit(s), F.lit(salt))  # noqa: E731
        return self.spark.range(start, start + n, 1, self.cfg["files"]).select(
            F.col("id"),
            F.timestamp_millis(F.lit(1_772_409_600_000) + F.pmod(h(1), F.lit(86_400_000))).alias("ts"),
            F.pmod(h(2), F.lit(5_000)).alias("user_id"),
            F.element_at(
                F.array(*[F.lit(c) for c in ("view", "click", "cart", "buy", "error")]),
                (F.pmod(h(3), F.lit(5)) + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(h(4), F.lit(100_000)) / 100.0).alias("value"),
            F.concat(F.lit('{"k":'), F.pmod(h(5), F.lit(100)).cast("string"), F.lit("}")).alias("props"),
        )

    def deleted(self, df):
        from pyspark.sql import functions as F

        keep = F.pmod(F.xxhash64(F.col("id"), F.lit(self.seed), F.lit(99)), F.lit(1000))
        return df.filter(keep >= self.cfg["delete_per_mille"])

    # -- set-up ---------------------------------------------------------------
    def generate(self) -> None:
        from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

        self.table = SnapshotTable(self.spark, self.root)
        self.table.write(self.rows(0, self.cfg["rows"]))

    def build(self) -> None:
        from hybrid_data_lakehouse_lab_spark.operators.delta_log import export_delta_log
        from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import export_iceberg_metadata

        export_delta_log(self.table, mor_deletes=True)
        export_iceberg_metadata(self.table, format_version=3)
        restore_tree(self.root, self.pristine)

    # -- one op ---------------------------------------------------------------
    def op(self, tr, check: bool = True) -> OpResult:
        from hybrid_data_lakehouse_lab_spark.operators.delta_log import export_delta_log, read_delta_table
        from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
            export_iceberg_metadata,
            read_iceberg_table,
        )
        from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

        with tr.span("bench.restore"):
            restore_tree(self.pristine, self.root)
            table = SnapshotTable(self.spark, self.root)
            before = tree_state(self.root)

        t0 = time.perf_counter()
        with tr.span("timetravel.write", commit="delete"):
            table.write(self.deleted(table.read()))
        with tr.span("timetravel.write", commit="append"):
            table.write(table.read().unionByName(self.rows(self.cfg["rows"], self.cfg["append"])))
        self._export(tr, "delta_log.export", lambda: export_delta_log(table, mor_deletes=True))
        self._export(tr, "iceberg_meta.export", lambda: export_iceberg_metadata(table, format_version=3))
        export_s = time.perf_counter() - t0

        # the masked versions: table version 2 (the delete) is Delta
        # version 1, a deletion-vector commit; table version 3 (the append)
        # is Iceberg snapshot 3, the parent's position deletes plus an
        # appended manifest
        t0 = time.perf_counter()
        got = {}
        with tr.span("delta_log.read"):
            got[("delta", 2)] = fingerprint(read_delta_table(self.spark, self.root, version=1))
        with tr.span("iceberg_meta.read"):
            got[("iceberg", 3)] = fingerprint(read_iceberg_table(self.spark, self.root, snapshot_id=3))
        read_s = time.perf_counter() - t0

        with tr.span("bench.check"):
            after = tree_state(self.root)
            written = bytes_written(before, after)
            user_bytes = live_bytes(table)
            tr.count("lake.write_amp", written / user_bytes)
            if tr.enabled:
                tr.count("delta_log.rewrite_commits", delta_rewrites(self.root))
                tr.count("iceberg_meta.rewrite_commits", iceberg_rewrites(self.root))
            why = self.check(table, got) if check else None
        return OpResult(
            {"export": export_s, "read": read_s},
            why is None,
            {"written": written, "user_bytes": user_bytes, "why": why},
        )

    def _export(self, tr, name: str, export) -> None:
        """Run one exporter in its span; traced ops also record the bytes
        it wrote (the directory scans sit in their own span)."""
        if not tr.enabled:
            export()
            return
        with tr.span("bench.account"):
            pre = tree_state(self.root)
        with tr.span(name) as sp:
            export()
        with tr.span("bench.account"):
            sp.attrs["bytes"] = bytes_written(pre, tree_state(self.root))

    def check(self, table, got: dict) -> str | None:
        for fmt, v in got:
            want = fingerprint(table.read(version=v))
            if got[(fmt, v)] != want:
                return f"{fmt} read of version {v}: {got[(fmt, v)]} != snapshot {want}"
        if self.expected is None:
            n = self.cfg["rows"]
            kept = self.deleted(self.rows(0, n)).count()
            if not 0 < kept < n or got[("delta", 2)][1] != kept or got[("iceberg", 3)][1] != kept + self.cfg["append"]:
                return f"row counts {got[('delta', 2)][1]}, {got[('iceberg', 3)][1]} do not match the seeded commits"
            self.expected = dict(got)
        elif got != self.expected:
            return "reader fingerprints differ from the first op's"
        return None

    # -- folding --------------------------------------------------------------
    def end_to_end(self, ops: list[OpResult]) -> tuple[dict, dict]:
        """Gated metrics, and the op timings, which are reported but not
        gated (README.md: Steadiness evidence)."""
        amp = write_amp([o.extra["written"] for o in ops], [o.extra["user_bytes"] for o in ops])
        timings = {
            "export_p50_s": timing_record([o.timings["export"] for o in ops]),
            "read_p50_s": timing_record([o.timings["read"] for o in ops]),
        }
        return {"write_amp": {"value": amp, "unit": "ratio"}}, timings

    def install(self, tr) -> None:
        import pyarrow.parquet as pq

        tr.patch_counter(pq, "ParquetFile", "parquet.footer_reads")


def fingerprint(df) -> tuple:
    """(order-insensitive row hash, row count); the sum runs in
    decimal(38,0), as a bigint sum overflows under ANSI mode."""
    from pyspark.sql import functions as F

    r = df.select(
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return (r["h"], r["n"])


def live_bytes(table) -> int:
    """Bytes of the data files of the table's head version."""
    head = next(s.path for s in table.snapshots() if s.version == table.branch_head())
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(head, "**", "*.parquet"), recursive=True))


def delta_rewrites(root: str) -> int:
    """Delta commits whose adds carry no deletion vector: full rewrites."""
    n = 0
    for path in glob.glob(os.path.join(root, "_delta_log", "*.json")):
        with open(path) as f:
            adds = [a["add"] for a in map(json.loads, f) if "add" in a]
        if adds and not any(a.get("deletionVector") for a in adds):
            n += 1
    return n


def iceberg_rewrites(root: str) -> int:
    """Iceberg snapshots exported as full rewrites (operation overwrite)."""
    meta_dir = os.path.join(root, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        hint = f.read().strip()
    cands = glob.glob(os.path.join(meta_dir, f"v{hint}.metadata.json")) or glob.glob(
        os.path.join(meta_dir, f"*{hint}*.metadata.json")
    )
    with open(cands[0]) as f:
        meta = json.load(f)
    return sum(1 for s in meta.get("snapshots", []) if s.get("summary", {}).get("operation") == "overwrite")
