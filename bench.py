"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with the noop sink (full execution, no driver
collect cost). One untimed warmup of a small query absorbs JVM/codegen
startup so the numbers measure the plans, not the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hybrid_data_lakehouse_lab_spark.plans import QUERIES  # noqa: E402
from hybrid_data_lakehouse_lab_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q4_order_priority_exists",
    "q17_below_avg_quantity",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q13_order_count_distribution",
    "q18_large_volume_customers",
    "q21_single_return_supplier",
    "revenue_rollup",
    "order_revenue_by_nation",
    "top_k_per_group",
    "json_extract_typed",
    "json_variant_agg",
    "grouping_sets_agg",
    "sessionize",
    "scd2_build",
    "current_state_upsert",
    "latest_per_key",
    "config_current_state_view",
    "dedup_exact",
    "corpus_curation_pipeline",
    "dedup_near_pairs_lsh",
    "dedup_simhash_near_pairs",
    "dedup_embedding_near_pairs",
    "similarity_cosine_topk",
    "array_hof_vector_stats",
    "text_fingerprint",
    "text_normalize_regex",
    "text_token_count_bpe",
    "range_join_event_windows",
    "asof_join_last_purchase",
    "corpus_train_val_split",
    "corpus_pack_sequences",
]

# Media codec lanes measured at 10× in the scale gate (BENCH_DETAIL's
# `sf1r_multimodal`): the mapInPandas Arrow kernels whose no-shuffle,
# per-blob scaling claim is otherwise only documented.
MULTIMODAL_10X = [
    "multimodal_image_decode",
    "multimodal_audio_decode",
    "multimodal_video_decode",
    "multimodal_audio_mulaw",
    "multimodal_audio_adpcm",
    "multimodal_image_jpeg",
    "multimodal_video_mjpeg",
]

# The merge-on-read interop family at 10×: each lane commits three
# versions of the (replicated) events table, exports the full metadata
# dialect (Iceberg v2 positional deletes / Delta DVs / equality deletes
# / change data feed), and reads every version back masked — so this
# section measures the distributed diffs, the spec-file writers, and
# the broadcast-anti-join readers under 10× data, not just the query
# layer. ~75 s total at 10× on local[32].
LAKEHOUSE_10X = [
    "iceberg_v2_metadata_roundtrip",
    "delta_dv_roundtrip",
    "iceberg_equality_delete_roundtrip",
    "delta_cdf_roundtrip",
    # round 8: the compaction fold and the v3 Puffin-DV dialect at 10×
    "mor_compaction_roundtrip",
    "iceberg_v3_dv_roundtrip",
    # round 9: schema evolution at 10× — the rename transition's full
    # rewrite plus the evolved read's executor-parallel footer probes
    # and per-era scan unions
    "iceberg_schema_evolution_roundtrip",
    # round 10: sorted rewrite at 10× — the range shuffle + export with
    # sort-order stamping + the pruned re-read (file skipping measured
    # where it matters, on the big slice)
    "iceberg_sort_rewrite_prune_roundtrip",
]

# Outlier re-measure for the ONE-SHOT gate lanes (round 12, VERDICT r11
# item 5): the headline set already defends against multi-second host
# throttle windows with min-of-5, but each 10× gate lane runs once, so a
# throttle window becomes the lane's number for the whole round
# (observed: bulk_delete_fv3 33.6 s in BENCH_r11 vs 14.1 s same-code
# same-round at 8 cores; history 10-16 s). Rule, mirroring the skew
# gate's round-10 fix: a first reading above 2× the lane's recorded
# history anchor triggers ONE immediate re-run; the min is kept and both
# readings are recorded in BENCH_DETAIL["gate_outlier_reruns"]. Anchors
# are the round-12 baseline run's per-lane values (BENCH_DETAIL at
# commit 6cbc9cc; throttled host — i.e. generous), so the rule only
# fires on genuine outliers.
LANE_ANCHOR_SEC = {
    "iceberg_v2_metadata_roundtrip": 20.4,
    "delta_dv_roundtrip": 16.6,
    "iceberg_equality_delete_roundtrip": 16.6,
    "delta_cdf_roundtrip": 19.0,
    "mor_compaction_roundtrip": 24.9,
    "iceberg_v3_dv_roundtrip": 14.7,
    "iceberg_schema_evolution_roundtrip": 2.9,
    "iceberg_sort_rewrite_prune_roundtrip": 3.7,
    "bulk_delete_delta_sec": 12.9,
    "bulk_delete_fv3_sec": 15.2,
}

# First-plan-JIT split instrumentation (round 12, VERDICT r11 item 3):
# the builder's claim that ~50% of each one-shot lakehouse lane is
# first-plan codegen/JIT was cProfile-backed for one lane but never in
# the bench record. The three most expensive lanes get ONE extra timed
# pass; BENCH_DETAIL["sf1r_lh_warm"] carries the warm reading next to
# the cold one so the cold−warm split is data, not narrative. The warm
# pass doubles as the outlier re-run for these lanes.
LAKEHOUSE_WARM_SPLIT = [
    "mor_compaction_roundtrip",
    "delta_cdf_roundtrip",
    "delta_dv_roundtrip",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def scd2_skew_gate(spark, sf_dir: str) -> dict:
    """SCD2 build under CDC hot-key skew (VERDICT r7 item 5): a
    heartbeat-heavy entity owning ~30% of a 10× event stream — the
    realistic CDC skew the Zipf slice (which skews FK joins, not the
    SCD2 window key) never exercises. Times the single-window build
    (one task sorts the hot key's ~3M events) against the chunked
    two-level chain (operators/scd2.py:scd2_from_changes_chunked: the
    hot key's heartbeats collapse per day-chunk before the global
    window). Returns {"plain": sec, "chunked": sec, "hot_rows": n} —
    recorded per round so the chunked-default decision rests on data.
    The 10× stream is synthesized by explode (no disk), distributed."""
    from pyspark.sql import functions as F

    from hybrid_data_lakehouse_lab_spark.operators.scd2 import (
        scd2_from_changes,
        scd2_from_changes_chunked,
    )
    from hybrid_data_lakehouse_lab_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    changes = (
        ev.withColumn(
            "_c", F.explode(F.array(*[F.lit(i) for i in range(10)]))
        )
        .select(
            # ~30% of all events land on entity 1; the rest keep their
            # (shifted) user id
            F.when(
                F.pmod(F.col("event_id") + F.col("_c"), F.lit(10)) < 3,
                F.lit(1),
            )
            .otherwise(F.col("user_id") + 2)
            .alias("id"),
            F.col("ts"),
            (F.col("event_id") * 10 + F.col("_c")).alias("lsn"),
            F.lit("u").alias("op"),
            # the hot entity is HEARTBEAT-heavy: content changes only
            # every 16th event, everyone else changes every event
            F.when(
                F.pmod(F.col("event_id") + F.col("_c"), F.lit(10)) < 3,
                F.when(
                    F.pmod(F.col("event_id"), F.lit(16)) == 0,
                    F.concat(F.lit("v"), F.col("event_id")),
                ).otherwise(F.lit("heartbeat")),
            )
            .otherwise(F.col("event_type"))
            .alias("payload"),
            F.col("value"),
        )
        .localCheckpoint()  # freeze: both builds must time the window,
        # not re-run the generator
    )
    hot_rows = changes.filter("id = 1").count()
    out = {"hot_rows": hot_rows}
    for label, fn in (
        ("plain", scd2_from_changes),
        ("chunked", scd2_from_changes_chunked),
    ):
        t0 = time.perf_counter()
        materialize(
            fn(changes, ["id"], ["payload", "value"], "ts", "op", ["ts", "lsn"])
        )
        out[label] = round(time.perf_counter() - t0, 3)
    changes.unpersist()
    return out


def bulk_delete_gate(spark, slice_dir: str) -> dict:
    """Bulk-delete scale gate (VERDICT r9 item 2): delete ~10% of the
    10× lineitem table (~600k of 6M rows) in ONE commit, then export
    through both merge-on-read dialects — Delta deletion vectors and
    Iceberg fv3 Puffin DVs — on the SAME root (the UniForm dual-export
    shape). Since round 10 both exporters fold delete positions into
    per-file roaring bitmaps ON the executors (operators/dv_kernel.py);
    the driver receives only (file, blob, cardinality), so its memory
    is flat in the delete count — the collect-guard tests
    (tests/test_distributed_dv.py, tests/test_fv3_distributed_dv.py)
    make regression structural, and this gate makes the wall-clock
    measurable per round. Returns per-export seconds + row counts,
    with a masked read-back count as validation."""
    import shutil
    import tempfile

    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        export_delta_log,
        read_delta_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.timetravel import (
        SnapshotTable,
    )
    from hybrid_data_lakehouse_lab_spark.sources import load_table

    li = load_table(spark, slice_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"
    )
    keep = "pmod(l_orderkey + l_linenumber, 10) != 3"  # ~10% deleted
    root = tempfile.mkdtemp(prefix="bulk_delete_gate_")
    out: dict = {}
    try:
        t = SnapshotTable(spark, os.path.join(root, "t"))
        t.write(li.repartition(32), committed_at_ms=1000)
        t.write(li.filter(keep).repartition(32), committed_at_ms=2000)
        total = li.count()
        live = li.filter(keep).count()
        out["rows"] = total
        out["deleted_rows"] = total - live
        t0 = time.perf_counter()
        export_delta_log(t, mor_deletes=True)
        out["delta_dv_export_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        export_iceberg_metadata(t, format_version=3)
        out["iceberg_fv3_export_sec"] = round(time.perf_counter() - t0, 3)
        assert read_delta_table(spark, t.root).count() == live
        assert read_iceberg_table(spark, t.root).count() == live
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def ingest_rows_per_sec(spark, n_copies: int = 6000) -> tuple[float, int]:
    """Streaming CDC ingest throughput: drain a drop dir of envelope
    JSON through the bronze lane (parse → flatten → dt-partitioned
    parquet) and report (rows/sec, micro-batch count). The reference's
    generator sustains ~1,000 rows/s and stresses to 10-20k rows/s
    (BASELINE.md a); this measures the same envelope format through our
    lane. Corpus sizing (round 12, VERDICT r11 item 6): ~960k rows so a
    drain runs ≥10 s and the fixed stream-startup + commit-cycle cost
    amortizes — at the previous 240k rows the run was ~3 s and the
    recorded rate swung 62-96k rows/s on identical code, swamping the
    round-11 one-batch-drain change the estimator was meant to resolve.
    The metric definition (rows drained / wall seconds through the same
    lane) is unchanged; the batch count is recorded so batching-related
    regressions are visible in the record instead of inferred.
    """
    import shutil
    import tempfile

    from hybrid_data_lakehouse_lab_spark.streaming import bronze_stream
    from hybrid_data_lakehouse_lab_spark.streaming.lanes import read_envelope_stream
    from hybrid_data_lakehouse_lab_spark.testing.fixtures import envelope_json_lines

    lines = envelope_json_lines() * n_copies
    root = tempfile.mkdtemp(prefix="ingest_bench_")
    try:
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        per_file = max(1, len(lines) // 32)
        for i in range(0, len(lines), per_file):
            with open(os.path.join(drop, f"b{i}.json"), "w") as f:
                f.write("\n".join(lines[i : i + per_file]) + "\n")
        t0 = time.perf_counter()
        # drain-everything batch: this is a one-shot availableNow run,
        # where every extra micro-batch pays a full commit cycle for no
        # benefit (measured ~45k rows/s at 16-file batches vs ~75k in
        # one batch); the 16-file default remains for the cadenced lanes
        q = bronze_stream(
            read_envelope_stream(spark, drop, max_files_per_trigger=None),
            os.path.join(root, "bronze"),
            os.path.join(root, "ckpt"),
        )
        q.awaitTermination(600)
        dt = time.perf_counter() - t0
        batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        return round(len(lines) / dt, 1), batches
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Host-speed calibration (VERDICT r10 item 3): two consecutive rounds
# needed detached-worktree A/B runs to separate host throttle from code
# changes (BENCH_r09 16.2 s vs the same commit re-benched at 29.2 s on
# the later, throttled host). This fixed Spark-free microbenchmark runs
# before and after the Spark sweeps; `host_factor` on the headline line
# is min(before, after) / CALIB_REF_SEC, so a cross-round wall-clock
# delta divides into (code × host) by construction — no worktree A/B
# needed. The reference 0.55 s is the quiet-host floor measured when
# the constant was pinned (round 11); the absolute unit is arbitrary,
# only cross-round consistency matters.
CALIB_REF_SEC = 0.55


def host_calibration(runs: int = 5) -> float:
    """Deterministic single-process CPU+memory microbenchmark: numpy
    row-sorts + elementwise passes over a 2000x2000 float64 array, plus
    a 2M-step pure-Python integer-hash loop. No Spark, no I/O, no BLAS
    matmul (BLAS thread counts vary by host). Returns the min wall
    seconds across `runs` timed passes (one untimed warmup pass absorbs
    allocator/page-fault noise) — the min is the throttle-free estimate,
    same philosophy as the warm query sweeps."""
    import numpy as np

    def one() -> float:
        t0 = time.perf_counter()
        rng = np.random.default_rng(0)
        a = rng.random((2000, 2000))
        for _ in range(3):
            a = np.sort(a, axis=1)
            a = (a * 1.0000001 + 0.1) % 1.0
        float(a.sum())
        h = 0
        for i in range(2_000_000):
            h = (h * 1103515245 + 12345 + i) & 0xFFFFFFFF
        return time.perf_counter() - t0

    one()  # untimed warmup
    return round(min(one() for _ in range(runs)), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    calib_before = host_calibration()  # before the JVM exists
    # Progress bars and stage spam eat bytes from the driver's bounded
    # stdout-tail capture; the headline JSON line must survive in it.
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    # warmup: spin up executors / codegen on a trivial plan (untimed)
    materialize(QUERIES["group_count_ops"](spark, sf_dir))

    # Each query runs six times: one cold pass (pays whole-stage-codegen
    # JIT, recorded separately) then a FIXED FIVE warm sweeps — VERDICT
    # r6 item 4 restored the fixed count after two rounds where adaptive
    # early-stop (min 2) recorded throttle-window noise as phantom
    # regressions (19.80→19.93→21.70 s, each adjudicated as sampling).
    # The per-query number is the MIN across the five warm sweeps
    # (shared hosts throttle in multi-second windows; the min is the
    # throttle-free estimate), and the headline line now publishes the
    # sweep-total CV + median so a reviewer can read the variance band
    # directly instead of adjudicating (accept band in BASELINE.md).
    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    sweep_totals: list[float] = []
    # Scan-width record (round 12, VERDICT r11 item 2): the driver's
    # core-scaling probe reads ≈1 on every headline lane and flagged
    # suspect_cpus_ignored even though $SPARK_GRAFT_CPUS is honored
    # (session.py:25,36) — at sf0.1 every headline input is a single
    # parquet row group, so the scan is ONE task and each lane sits at
    # its serial-scan floor regardless of core count. Record the scan
    # file count per lane (the upper bound on scan-stage tasks for these
    # single-row-group files) at both scales so serial-floor lanes are
    # distinguishable from ignored cores in the bench record itself.
    # The core-scaling witness is sf1r_mm_total_sec (documented in
    # BASELINE.md): 25.5 s at 8 cores vs 11.8 s at 32 in BENCH_r11.
    scan_files: dict[str, int | None] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        materialize(df)
        cold[name] = round(time.perf_counter() - t0, 3)
        try:
            scan_files[name] = len(df.inputFiles())
        except Exception:  # noqa: BLE001 — diagnostics only
            scan_files[name] = None
    N_SWEEPS = 5
    for _ in range(N_SWEEPS):
        sweep_total = 0.0
        for name in HEADLINE:
            t0 = time.perf_counter()
            materialize(QUERIES[name](spark, sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            sweep_total += dt
            timings[name] = min(timings.get(name, dt), dt)
        sweep_totals.append(round(sweep_total, 3))
    mean = sum(sweep_totals) / len(sweep_totals)
    warm_cv = round(
        (sum((t - mean) ** 2 for t in sweep_totals) / len(sweep_totals)) ** 0.5
        / mean,
        3,
    )
    warm_median = round(sorted(sweep_totals)[len(sweep_totals) // 2], 3)

    # Same estimator philosophy as warm: keep draining (min 2, max 4)
    # until the best rate stops improving by >5%, so a throttle window
    # spanning both of a fixed pair of runs cannot depress the record
    # (observed: same-code ingest reading 30k vs 86k rows/s run-to-run).
    # Round-5 variance study (6 identical runs, quiet host): 12.9k cold
    # -> 62.6/71.2/70.9/84.2/79.9k warm, CV 41%. The cold first run both
    # wastes an attempt and can make run2's >5% improvement stop the
    # loop before the true warm rate appears — so pay the streaming
    # lane's JIT/startup once with a tiny discarded warmup first,
    # matching the warm-query estimator's philosophy.
    ingest_rows_per_sec(spark, n_copies=50)
    ingest = 0.0
    ingest_batches = 0
    ingest_runs = 0
    while ingest_runs < 4:
        rate, batches = ingest_rows_per_sec(spark)
        ingest_runs += 1
        if rate > ingest:
            ingest_batches = batches
        if ingest_runs >= 2 and rate <= ingest * 1.05:
            ingest = max(ingest, rate)
            break
        ingest = max(ingest, rate)

    # Standing scale gate: one timed sweep of the same headline set over
    # a 10×-replicated slice (tools/make_scaled_slice.py — FK-preserving
    # key shifts, duplicate-class documents), so the wall-clock-vs-data
    # scaling trend (3.2× wall for 10× data in round 5) is RECORDED per
    # round instead of re-derived by hand. Single sweep by design: the
    # JVM and codegen are already hot from the sf0.1 sweeps of the very
    # same plans, and the gate tracks a ratio where ±10% noise is fine.
    # Opt out with SPARK_GRAFT_SKIP_SF1R=1 (local iteration); only runs
    # for the default sf0.1 corpus.
    sf1r_total = None
    sf1r_queries: dict[str, float] = {}
    sf1r_scan_files: dict[str, int | None] = {}
    sf1r_mm: dict[str, float] = {}
    sf01_mm: dict[str, float] = {}
    sf1r_lh: dict[str, float] = {}
    sf1r_lh_warm: dict[str, float] = {}
    gate_outlier_reruns: dict[str, dict] = {}
    sf1r_skew_queries: dict[str, float] = {}
    sf1r_skew_total = None
    scd2_skew: dict = {}
    bulk_delete: dict = {}
    sf1r_skew_max_ratio = None
    if sf == "0.1" and not os.environ.get("SPARK_GRAFT_SKIP_SF1R"):
        import shutil
        import tempfile

        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        from make_scaled_slice import build

        # 1× anchor for the codec lanes so the 10× ratio below reads as
        # a scaling measurement, not a lone number
        for name in MULTIMODAL_10X:
            t0 = time.perf_counter()
            materialize(QUERIES[name](spark, sf_dir))
            sf01_mm[name] = round(time.perf_counter() - t0, 3)

        root = tempfile.mkdtemp(prefix="sf1r_gate_")
        slice_dir = os.path.join(root, "slice")
        skew_root = tempfile.mkdtemp(prefix="sf1r_skew_")
        skew_dir = os.path.join(skew_root, "slice")
        try:
            build(sf_dir, slice_dir, 10)
            for name in HEADLINE:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, slice_dir)
                materialize(df)
                sf1r_queries[name] = round(time.perf_counter() - t0, 3)
                try:
                    sf1r_scan_files[name] = len(df.inputFiles())
                except Exception:  # noqa: BLE001 — diagnostics only
                    sf1r_scan_files[name] = None
            sf1r_total = round(sum(sf1r_queries.values()), 3)
            # The codec lanes' scaling claim (mapInPandas per-blob Arrow
            # kernels: no shuffle, wall tracks blob count) was documented
            # but unmeasured at 10× until round 7 (VERDICT item 6) —
            # record the media lanes on the same uniform slice.
            for name in MULTIMODAL_10X:
                t0 = time.perf_counter()
                materialize(QUERIES[name](spark, slice_dir))
                sf1r_mm[name] = round(time.perf_counter() - t0, 3)
            # Table-format MoR interop under 10× data (round 7): the
            # position/PK diffs, DV/delete-file writers and masked
            # readers, measured end-to-end.
            for name in LAKEHOUSE_10X:
                t0 = time.perf_counter()
                materialize(QUERIES[name](spark, slice_dir))
                sf1r_lh[name] = round(time.perf_counter() - t0, 3)
                rerun_reason = None
                if sf1r_lh[name] > 2 * LANE_ANCHOR_SEC.get(name, float("inf")):
                    rerun_reason = "outlier"  # >2× history: re-measure
                elif name in LAKEHOUSE_WARM_SPLIT:
                    rerun_reason = "warm_split"  # JIT-split instrumentation
                if rerun_reason:
                    t0 = time.perf_counter()
                    materialize(QUERIES[name](spark, slice_dir))
                    again = round(time.perf_counter() - t0, 3)
                    if name in LAKEHOUSE_WARM_SPLIT:
                        sf1r_lh_warm[name] = again
                    if rerun_reason == "outlier":
                        gate_outlier_reruns[name] = {
                            "first": sf1r_lh[name],
                            "rerun": again,
                        }
                        sf1r_lh[name] = min(sf1r_lh[name], again)
            # Bulk-delete gate (round 10): one ~10%-of-6M-rows delete
            # commit through both DV exporters, driver memory flat.
            bulk_delete = bulk_delete_gate(spark, slice_dir)
            if (
                bulk_delete["delta_dv_export_sec"]
                > 2 * LANE_ANCHOR_SEC["bulk_delete_delta_sec"]
                or bulk_delete["iceberg_fv3_export_sec"]
                > 2 * LANE_ANCHOR_SEC["bulk_delete_fv3_sec"]
            ):
                again = bulk_delete_gate(spark, slice_dir)
                for k in ("delta_dv_export_sec", "iceberg_fv3_export_sec"):
                    gate_outlier_reruns[f"bulk_delete.{k}"] = {
                        "first": bulk_delete[k],
                        "rerun": again[k],
                    }
                    bulk_delete[k] = min(bulk_delete[k], again[k])

            # Skewed-key 10× gate (VERDICT r6 item 3): the uniform
            # slice never exercises AQE skew handling, so replicate
            # again with Zipf(≈1) join/agg keys (events.user_id,
            # orders.o_custkey, lineitem.l_partkey — FK domains
            # preserved) and require no headline query to blow up vs
            # its uniform-slice time. The max ratio is RECORDED on the
            # headline line; the accept bar (≤2× per query) is
            # documented in BASELINE.md.
            build(sf_dir, skew_dir, 10, skewed=True)
            for name in HEADLINE:
                t0 = time.perf_counter()
                materialize(QUERIES[name](spark, skew_dir))
                sf1r_skew_queries[name] = round(time.perf_counter() - t0, 3)
            sf1r_skew_total = round(sum(sf1r_skew_queries.values()), 3)
            ratios = {
                n: round(sf1r_skew_queries[n] / max(sf1r_queries[n], 0.05), 2)
                for n in HEADLINE
            }
            # Adaptive re-measure (round 10, VERDICT r9 item 6): a
            # single-pass ratio conflates Zipf sensitivity with host
            # throttle windows (round 9 recorded 1.79; the quiet
            # re-run measured 1.22). Mirror the headline's min-of-N
            # estimator at O(offenders) cost: any query whose
            # first-pass ratio exceeds 1.5 gets one more timed pass on
            # EACH slice, and the per-slice minima replace the single
            # samples. A ratio that survives min-of-2 on both sides is
            # a real skew effect, not a throttle artifact.
            for name, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
                if r <= 1.5:
                    break
                t0 = time.perf_counter()
                materialize(QUERIES[name](spark, slice_dir))
                sf1r_queries[name] = min(
                    sf1r_queries[name],
                    round(time.perf_counter() - t0, 3),
                )
                t0 = time.perf_counter()
                materialize(QUERIES[name](spark, skew_dir))
                sf1r_skew_queries[name] = min(
                    sf1r_skew_queries[name],
                    round(time.perf_counter() - t0, 3),
                )
                ratios[name] = round(
                    sf1r_skew_queries[name]
                    / max(sf1r_queries[name], 0.05),
                    2,
                )
            worst = max(ratios, key=ratios.get)
            sf1r_skew_max_ratio = ratios[worst]
            # keep the recorded totals consistent with the per-query
            # detail (offenders now carry their min-of-2)
            sf1r_total = round(sum(sf1r_queries.values()), 3)
            sf1r_skew_total = round(sum(sf1r_skew_queries.values()), 3)
        finally:
            shutil.rmtree(root, ignore_errors=True)
            shutil.rmtree(skew_root, ignore_errors=True)

        # SCD2 hot-key gate (round 8): the window-on-CDC-id family under
        # a 30%-hot heartbeat entity, plain vs chunked, both timed.
        scd2_skew = scd2_skew_gate(spark, sf_dir)

    calib_after = host_calibration()
    host_factor = round(min(calib_before, calib_after) / CALIB_REF_SEC, 2)
    headline = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "warm": f"min-of-{N_SWEEPS}",
        "warm_cv": warm_cv,
        "warm_median_sec": warm_median,
        "host_factor": host_factor,
        "cold_total_sec": round(sum(cold.values()), 3),
        "ingest_rows_per_sec": ingest,
        "ingest": f"best-of-{ingest_runs}",
        "ingest_batches": ingest_batches,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if sf1r_total is not None:
        # one compact key each on the stdout line; per-query detail in
        # the file
        headline["sf1r_total_sec"] = sf1r_total
        headline["sf1r_mm_total_sec"] = round(sum(sf1r_mm.values()), 3)
        headline["sf1r_lh_total_sec"] = round(sum(sf1r_lh.values()), 3)
    if sf1r_skew_total is not None:
        headline["sf1r_skew_total_sec"] = sf1r_skew_total
        headline["sf1r_skew_max_ratio"] = sf1r_skew_max_ratio
        headline["scd2_skew_plain_sec"] = scd2_skew["plain"]
        headline["scd2_skew_chunked_sec"] = scd2_skew["chunked"]
    if bulk_delete:
        headline["bulk_delete_delta_sec"] = bulk_delete["delta_dv_export_sec"]
        headline["bulk_delete_fv3_sec"] = bulk_delete["iceberg_fv3_export_sec"]
    # Full per-query detail goes to a file; stdout carries only the compact
    # headline object as the LAST line. The driver captures a bounded tail
    # of stdout — round 2's single giant line (warm + cold dicts) overflowed
    # it and the record parsed as null. The headline line is sized to the
    # round-1 shape that is known to fit.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                **headline,
                "calib_before_sec": calib_before,
                "calib_after_sec": calib_after,
                "calib_ref_sec": CALIB_REF_SEC,
                "queries_cold": cold,
                "warm_sweep_totals": sweep_totals,
                "headline_scan_files": scan_files,
                "queries_sf1r": sf1r_queries,
                "sf1r_scan_files": sf1r_scan_files,
                "sf01_multimodal": sf01_mm,
                "sf1r_multimodal": sf1r_mm,
                "sf1r_lakehouse": sf1r_lh,
                "sf1r_lh_warm": sf1r_lh_warm,
                "gate_outlier_reruns": gate_outlier_reruns,
                "queries_sf1r_skew": sf1r_skew_queries,
                "scd2_skew": scd2_skew,
                "bulk_delete": bulk_delete,
            },
            f,
            indent=1,
        )
    sys.stdout.flush()
    # Compact separators keep the line ~1.2 KB — well inside the driver's
    # 2000-char stdout tail even as per-query digits grow at larger SF.
    print(json.dumps(headline, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
