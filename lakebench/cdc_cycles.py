"""`cdc_cycles`: one incremental lakehouse cycle per op.

Set-up builds a lake — a snapshot load plus several change batches, all
landed as drop files and folded by one `LakehouseJob.run()` — and keeps a
pristine copy. Every op restores that lake in place, lands the same
seeded drop file of change envelopes, times `LakehouseJob.run()` (bronze
stream → checkpointed SCD2 merge → one atomic commit), then times a fixed
set of serving reads. Every op therefore starts from the same state and
does the same work.
"""

from __future__ import annotations

import os
import time

import cdc_data
from common import OpResult, bytes_written, rate, restore_tree, timing_record, tree_state, write_amp
from queries import QuerySweep

SIZES = {
    "bench": {"keys": 20_000, "history": 3, "batch": 5_000, "star_sf": 0.003},
    "toy": {"keys": 300, "history": 2, "batch": 120, "star_sf": 0.001},
}

SCD2_COLS = ["id", *cdc_data.ATTRS]


class CdcCycles:
    WARMUP_OPS = 1

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.cfg = SIZES[size]
        self.lake = os.path.join(work, "lake")
        self.pristine = os.path.join(work, "lake.pristine")
        self.verified_fp = None
        self.queries = QuerySweep(spark, work, seed, self.cfg["star_sf"])

    # -- set-up -------------------------------------------------------------
    def generate(self) -> None:
        cfg = self.cfg
        log = cdc_data.Changelog(self.seed, cfg["keys"], cfg["batch"])
        self.base_batches = [log.snapshot_batch()] + [log.change_batch() for _ in range(cfg["history"])]
        self.batch = log.change_batch()
        self.batch_lines = log.arrival_order(self.batch)
        self.queries.generate()

    def build(self) -> None:
        from hybrid_data_lakehouse_lab_spark.job import LakehouseJob

        job = LakehouseJob(self.spark, self.lake, attr_cols=cdc_data.ATTRS)
        os.makedirs(job.drop_dir, exist_ok=True)
        for k, b in enumerate(self.base_batches):
            cdc_data.write_drop(os.path.join(job.drop_dir, f"base-{k:03d}.jsonl"), b)
        job.run()
        restore_tree(self.lake, self.pristine)

    # -- one op -------------------------------------------------------------
    def op(self, tr, check: bool = True) -> OpResult:
        from hybrid_data_lakehouse_lab_spark.job import LakehouseJob

        with tr.span("bench.restore"):
            restore_tree(self.pristine, self.lake)
            job = LakehouseJob(self.spark, self.lake, attr_cols=cdc_data.ATTRS)
            user_bytes = cdc_data.write_drop(os.path.join(job.drop_dir, "cycle.jsonl"), self.batch_lines)
            before = tree_state(self.lake)

        t0 = time.perf_counter()
        with tr.span("job.run"):
            n = job.run()
        cycle_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        with tr.span("serve"):
            head = job.pipe.table.branch_head()
            with tr.span("timetravel.read", view="current"):
                job.current().write.format("noop").mode("overwrite").save()
            with tr.span("timetravel.read", view="history"):
                job.history().write.format("noop").mode("overwrite").save()
            with tr.span("timetravel.read", view="revenue_by_category"):
                revenue = job.revenue_by_category().collect()
            with tr.span("timetravel.read", view="version_as_of"):
                job.pipe.scd2(version=head - 1).write.format("noop").mode("overwrite").save()
            self.queries.sweep(tr)
        serve_s = time.perf_counter() - t0

        with tr.span("bench.check"):
            written = bytes_written(before, tree_state(self.lake))
            tr.count("lake.write_amp", written / user_bytes)
            why = (self.check(job, n, revenue) or self.queries.check()) if check else None
        return OpResult(
            {"cycle": cycle_s, "serve": serve_s},
            why is None,
            {"events": n, "written": written, "user_bytes": user_bytes, "why": why},
        )

    def check(self, job, n: int, revenue) -> str | None:
        from pyspark.sql import functions as F

        if n != len(self.batch):
            return f"cycle merged {n} events, expected {len(self.batch)}"
        table = job.history()
        fp = table.select(
            F.sum(F.xxhash64(*table.columns).cast("decimal(38,0)")).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        fp = (fp["h"], fp["n"])
        if self.verified_fp is None:
            # full comparison with the Python replay, once; later ops must
            # reproduce the verified table's fingerprint
            got = sorted(
                (
                    tuple(r)
                    for r in table.select(
                        *SCD2_COLS,
                        F.unix_millis("effective_start_ts"),
                        F.unix_millis("effective_end_ts"),
                        "is_current",
                        "is_deleted",
                    ).collect()
                ),
                key=repr,
            )
            why = cdc_data.check_invariants(got)
            if why:
                return why
            events = [e for b in self.base_batches for e in b] + self.batch
            expected = sorted(cdc_data.replay_scd2(events), key=repr)
            if got != expected:
                diff = next((a, b) for a, b in zip(got + [None] * len(expected), expected) if a != b)
                return f"SCD2 table differs from the replay: {len(got)} vs {len(expected)} rows, first {diff}"
            want = {}
            for r in expected:
                if r[-2]:
                    cat, price, qty = r[2], float(r[3]), r[4]
                    want[cat] = want.get(cat, 0.0) + price * qty
            got_rev = {r["category"]: r["revenue"] for r in revenue}
            if set(got_rev) != set(want) or any(abs(got_rev[c] - want[c]) > 1e-6 * max(1.0, want[c]) for c in want):
                return "revenue_by_category differs from the replay"
            self.verified_fp = fp
            return None
        if fp != self.verified_fp:
            return f"SCD2 fingerprint {fp} differs from the verified {self.verified_fp}"
        return None

    # -- folding ------------------------------------------------------------
    def end_to_end(self, ops: list[OpResult]) -> tuple[dict, dict]:
        """Gated metrics, and the op timings, which are reported but not
        gated (README.md: Steadiness evidence)."""
        cycles = [o.timings["cycle"] for o in ops]
        amp = write_amp([o.extra["written"] for o in ops], [o.extra["user_bytes"] for o in ops])
        timings = {
            "cycle_p50_s": timing_record(cycles),
            "serve_p50_s": timing_record([o.timings["serve"] for o in ops]),
            "events_per_s": rate(sum(o.extra["events"] for o in ops), cycles),
        }
        return {"write_amp": {"value": amp, "unit": "ratio"}}, timings

    def install(self, tr) -> None:
        """Rebind the layers' internal entry points for a traced op."""
        from hybrid_data_lakehouse_lab_spark import job as job_mod
        from hybrid_data_lakehouse_lab_spark.operators import pipeline as pipe_mod
        from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

        def drain(q, sp):
            # drain inside the span: LakehouseJob.run's own
            # awaitTermination then returns at once
            q.awaitTermination(300)
            prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            tr.count("streaming.bronze.rows", sum(p["numInputRows"] for p in prog))
            tr.count("streaming.bronze.batches", len(prog))
            return q

        tr.patch(job_mod, "bronze_stream", "streaming.bronze", after=drain)
        tr.patch(pipe_mod.Scd2Pipeline, "process_batch", "pipeline.process_batch")
        tr.patch(pipe_mod.Scd2Pipeline, "last_checkpoint", "pipeline.checkpoint")
        tr.patch(pipe_mod.Scd2Pipeline, "_batch_watermark", "pipeline.watermark")
        tr.patch(pipe_mod.Scd2Pipeline, "_write_checkpoint_audit", "pipeline.audit")
        tr.patch(pipe_mod, "merge_scd2_batch", "merge.plan")
        # SnapshotTable.read stays unbound: the cycle's own reads of the
        # table sit inside its pipeline spans, and the serving reads open
        # their timetravel.read spans explicitly
        tr.patch(SnapshotTable, "write", "timetravel.write")
