"""Spans for the traced run: name, start, end and parent, kept in memory
and folded with Spark's job/stage statistics when the run ends.

Spans open around the benchmark's own calls into each layer's public
entry point. Calls a layer makes internally (`LakehouseJob.run` →
`bronze_stream` / `Scd2Pipeline.process_batch` → ...) are reached by
rebinding those names for the traced ops only (`Tracer.patch`), and the
originals are put back after every traced op (`Tracer.restore`).

Every span sets the Spark job group, and a job is attributed to the span
whose group it carries; jobs run on other threads (the streaming query's
micro-batches) fall back to the innermost span open at the job's
submission time. Stage statistics come from the driver's status store,
which is populated with `spark.ui.enabled=false`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


@dataclass
class Job:
    group: str | None
    start: float
    end: float
    exec_s: float
    shuffle_mb: float
    spill_mb: float
    output_mb: float


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered = union_length(clip([(c.start, c.end) for c in children], span.start, span.end))
    return (span.end - span.start) - covered


class NullTracer:
    """The untraced run's tracer: every hook is free."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def count(self, name: str, n: float = 1) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counts: dict[int, dict[str, float]] = {}
        self.op = -1
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.op,
                  time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(f"lakebench-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"lakebench-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, n: float = 1) -> None:
        per_op = self.counts.setdefault(self.op, {})
        per_op[name] = per_op.get(name, 0) + n

    # -- rebinding -------------------------------------------------------------
    def patch(self, owner, attr: str, span_name: str, after=None) -> None:
        """Rebind owner.attr to a wrapper that runs it inside a span;
        `after(result, span)` may post-process inside the span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*a, **kw):
            with tracer.span(span_name) as sp:
                out = original(*a, **kw)
                if after is not None:
                    out = after(out, sp)
                return out

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def patch_counter(self, owner, attr: str, counter: str) -> None:
        """Rebind owner.attr to a wrapper that counts its calls."""
        original = getattr(owner, attr)
        tracer = self

        def counted(*a, **kw):
            tracer.count(counter)
            return original(*a, **kw)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, counted)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- folding ---------------------------------------------------------------
    def spark_jobs(self) -> list[Job]:
        """Every job in the status store, with its stages' statistics."""
        sc = self.sc
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
            )
        )
        by_stage: dict[int, dict] = {}
        for st in stages:  # keep the latest attempt of each stage
            prev = by_stage.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                by_stage[st["stageId"]] = st
        out = []
        mb = 1024.0 * 1024.0
        for j in jobs:
            if j.get("submissionTime") is None or j.get("completionTime") is None:
                continue
            sts = [by_stage[s] for s in j["stageIds"] if s in by_stage]
            out.append(
                Job(
                    group=j.get("jobGroup"),
                    start=j["submissionTime"] / 1000.0,
                    end=j["completionTime"] / 1000.0,
                    exec_s=sum(s["executorRunTime"] for s in sts) / 1000.0,
                    shuffle_mb=sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in sts) / mb,
                    spill_mb=sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in sts) / mb,
                    output_mb=sum(s["outputBytes"] for s in sts) / mb,
                )
            )
        return out


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """span id → the jobs it ran: by job group, else by the innermost span
    open at the job's submission time (jobs of other threads)."""
    by_group = {f"lakebench-{s.id}": s.id for s in spans}
    out: dict[int, list[Job]] = {}
    ordered = sorted(spans, key=lambda s: (s.start, -(s.end - s.start)))
    for j in jobs:
        sid = by_group.get(j.group) if j.group else None
        if sid is None:
            best = None
            for s in ordered:
                if s.start > j.start:
                    break
                if s.end >= j.start and (best is None or s.start >= best.start):
                    best = s
            sid = best.id if best else None
        if sid is not None:
            out.setdefault(sid, []).append(j)
    return out


def subtree_jobs(span_id: int, children: dict[int, list[Span]], direct: dict[int, list[Job]]) -> list[Job]:
    out = list(direct.get(span_id, []))
    for c in children.get(span_id, []):
        out.extend(subtree_jobs(c.id, children, direct))
    return out
