"""Per-layer metrics of a traced run, folded from its spans, the Spark jobs
attributed to them and the counters the workloads record.

Every workload's traced run reports every metric below; a layer a
workload does not reach reads 0 there, which is the prediction for that
workload ("no work in the exporters", ...). Each value is the median over
the traced ops of the op's total.
"""

from __future__ import annotations

import statistics

import common
import queries
from tracing import attribute_jobs, clip, self_time, subtree_jobs, union_length

MB = 1024.0 * 1024.0

# metric → (span name, field); a span's value sums its whole subtree's jobs
SPAN_METRICS = {
    "streaming.bronze.wall_s": ("streaming.bronze", "wall", "s"),
    "pipeline.checkpoint.wall_s": ("pipeline.checkpoint", "wall", "s"),
    "pipeline.watermark.wall_s": ("pipeline.watermark", "wall", "s"),
    "pipeline.watermark.shuffle_mb": ("pipeline.watermark", "shuffle_mb", "MB"),
    "pipeline.audit.wall_s": ("pipeline.audit", "wall", "s"),
    "merge.plan_s": ("merge.plan", "wall", "s"),
    "timetravel.write.wall_s": ("timetravel.write", "wall", "s"),
    "timetravel.write.exec_s": ("timetravel.write", "exec_s", "s"),
    "timetravel.write.mb": ("timetravel.write", "output_mb", "MB"),
    "timetravel.read.wall_s": ("timetravel.read", "wall", "s"),
    "delta_log.export.wall_s": ("delta_log.export", "wall", "s"),
    "delta_log.export.jobs": ("delta_log.export", "jobs", "count"),
    "delta_log.export.exec_s": ("delta_log.export", "exec_s", "s"),
    "delta_log.export.mb": ("delta_log.export", "attr_mb", "MB"),
    "iceberg_meta.export.wall_s": ("iceberg_meta.export", "wall", "s"),
    "iceberg_meta.export.jobs": ("iceberg_meta.export", "jobs", "count"),
    "iceberg_meta.export.exec_s": ("iceberg_meta.export", "exec_s", "s"),
    "iceberg_meta.export.mb": ("iceberg_meta.export", "attr_mb", "MB"),
    "delta_log.read.wall_s": ("delta_log.read", "wall", "s"),
    "iceberg_meta.read.wall_s": ("iceberg_meta.read", "wall", "s"),
    "plans.build_s": ("plans.build", "wall", "s"),
    "plans.exec_s": ("plans.exec", "exec_s", "s"),
    "plans.shuffle_mb": ("plans.exec", "shuffle_mb", "MB"),
    "plans.spill_mb": ("plans.exec", "spill_mb", "MB"),
}

# metric → unit, for counters the workloads record per op
COUNTERS = {
    "streaming.bronze.rows": "count",
    "streaming.bronze.batches": "count",
    "delta_log.rewrite_commits": "count",
    "iceberg_meta.rewrite_commits": "count",
    "parquet.footer_reads": "count",
    "plans.catalyst_ms": "ms",
    "lake.write_amp": "ratio",
    "jvm.gc_s": "s",
    **{f"plans.{q}.wall_s": "s" for q in queries.QUERY_SET},
}

# per op, from the op's jobs: driver time is op wall minus their union
PER_OP = {"spark.jobs": "count", "driver.py_s": "s"}

# once per run; the first two come from the run's set-up
PROCESS = {"session.start_s": "s", "setup.datagen_s": "s", "process.peak_rss_mb": "MB"}


def per_layer_names() -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric, in report order."""
    out = [(m, u) for m, (_, _, u) in SPAN_METRICS.items()]
    out += list(COUNTERS.items()) + list(PER_OP.items()) + list(PROCESS.items())
    return out


def _span_value(sp, field: str, jobs: list) -> float:
    if field == "wall":
        return sp.end - sp.start
    if field == "jobs":
        return float(len(jobs))
    if field == "attr_mb":
        return sp.attrs.get("bytes", 0) / MB
    return sum(getattr(j, field) for j in jobs)


def outermost(spans, name: str, by_id: dict) -> list:
    """Spans called `name` with no ancestor of the same name."""
    out = []
    for sp in spans:
        if sp.name != name:
            continue
        p = sp.parent
        while p is not None and by_id[p].name != name:
            p = by_id[p].parent
        if p is None:
            out.append(sp)
    return out


def fold(tracer, process_values: dict) -> tuple[dict, dict]:
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    direct = attribute_jobs(spans, tracer.spark_jobs())
    roots = [s for s in spans if s.name == "op" and s.parent is None]
    per_op: dict[str, list[float]] = {}
    coverage, unattributed = [], []
    self_times: dict[str, list[float]] = {}
    per_op_self: list[dict[str, float]] = []
    for root in roots:
        op_spans = [s for s in spans if s.op == root.op]
        vals: dict[str, float] = {}
        for metric, (name, field, _) in SPAN_METRICS.items():
            vals[metric] = sum(
                _span_value(sp, field, subtree_jobs(sp.id, children, direct))
                for sp in outermost(op_spans, name, by_id)
            )
        counts = tracer.counts.get(root.op, {})
        for metric in COUNTERS:
            vals[metric] = float(counts.get(metric, 0.0))
        op_jobs = subtree_jobs(root.id, children, direct)
        wall = root.end - root.start
        vals["spark.jobs"] = float(len(op_jobs))
        vals["driver.py_s"] = wall - union_length(clip([(j.start, j.end) for j in op_jobs], root.start, root.end))
        for k, v in vals.items():
            per_op.setdefault(k, []).append(v)
        kids = children.get(root.id, [])
        covered = union_length(clip([(c.start, c.end) for c in kids], root.start, root.end))
        coverage.append(covered / wall if wall > 0 else 1.0)
        unattributed.append(wall - covered)
        per_name: dict[str, float] = {}
        for sp in op_spans:
            per_name[sp.name] = per_name.get(sp.name, 0.0) + self_time(sp, children.get(sp.id, []))
        for k, v in per_name.items():
            self_times.setdefault(k, []).append(v)
        per_op_self.append({k: round(v, 4) for k, v in sorted(per_name.items())})
    process = {**process_values, "process.peak_rss_mb": common.peak_rss_mb()}
    metrics = {}
    for metric, unit in per_layer_names():
        if metric in PROCESS:
            value = process[metric]
        else:
            value = statistics.median(per_op[metric]) if per_op.get(metric) else 0.0
        metrics[metric] = {"value": float(value), "unit": unit}
    detail = {
        "traced_ops": len(roots),
        "op_child_coverage_p50": statistics.median(coverage) if coverage else None,
        "op_unattributed_s_p50": statistics.median(unattributed) if unattributed else None,
        "self_time_s_p50": {k: statistics.median(v) for k, v in sorted(self_times.items())},
        "self_time_s_per_op": per_op_self,
        "spans": len(spans),
    }
    return metrics, detail
