#!/usr/bin/env python3
"""Lakehouse benchmark: closed-loop, single-client workloads on one
local[nproc] Spark session.

    python3 lakebench/run.py --workload cdc_cycles --seed 1 --seconds 20 --trace 0

Prints one detail line (`lakebench-detail {...}`: launch settings,
warm-up, per-op lists, drift halves) and, as the last line, one JSON
object `{"correct", "attempted", "failed", "metrics"}`. `--trace 0`
reports the end-to-end metrics; `--trace 1` runs every other op traced
and reports the per-layer metrics of the traced ops. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import common  # noqa: E402
import layers  # noqa: E402

WORKLOADS = {
    "cdc_cycles": ("cdc_cycles", "CdcCycles"),
    "mor_export": ("mor_export", "MorExport"),
}



def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "toy"), default="bench",
                   help="input size; toy is for the benchmark's own smoke tests")
    p.add_argument("--jit", choices=sorted(common.JIT_OPTS), default="c1",
                   help="JVM JIT settings; c1 levels op time off within a short run (README.md)")
    p.add_argument("--work-dir", default=None,
                   help="scratch directory (default: .lakebench_work/ in the checkout)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(common.REPO_ROOT, common.PACKAGE)):
        print(f"lakebench: package {common.PACKAGE!r} not found beside {BENCH_DIR}", file=sys.stderr)
        return 2
    work = args.work_dir or os.path.join(
        common.REPO_ROOT, ".lakebench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    # a termination still stops the JVM and removes the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    launch = common.pin_launch(work)
    sys.path.insert(0, common.REPO_ROOT)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = common.start_session(work, traced=bool(args.trace), jit=args.jit)
        session_s = time.perf_counter() - t0
        result, detail = run(spark, args, work, session_s)
    finally:
        try:
            if spark is not None:
                common.stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if not args.work_dir:
                with contextlib.suppress(OSError):  # other runs may still use it
                    os.rmdir(os.path.dirname(work))
    detail["launch"] = launch
    print("lakebench-detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(spark, args, work: str, session_s: float):
    import importlib

    from tracing import NullTracer, Tracer

    mod_name, cls_name = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod_name), cls_name)(spark, work, args.seed, args.size)
    null = NullTracer()

    t0 = time.perf_counter()
    wl.generate()
    datagen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t0

    # warm-up ops skip the correctness checks: the oracle work is the
    # benchmark's own, so it stays out of setup_s (the first timed op runs it)
    warm = [common.op_total(wl.op(null, check=False)) for _ in range(wl.WARMUP_OPS)]
    setup_s = process_age_s()

    tracer = Tracer(spark) if args.trace else None
    gc0 = common.jvm_gc_s(spark)

    def traced_op(i: int) -> common.OpResult:
        tracer.op = i
        wl.install(tracer)
        try:
            g = common.jvm_gc_s(spark)
            with tracer.span("op") as sp:
                r = wl.op(tracer)
            tracer.count("jvm.gc_s", common.jvm_gc_s(spark) - g)
            r.extra["traced"] = True
            return r
        finally:
            tracer.restore()

    def op(i: int) -> common.OpResult:
        t = time.perf_counter()
        try:
            r = wl.op(null) if tracer is None or i % 2 == 0 else traced_op(i)
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            return common.OpResult({}, False, {"why": f"{type(e).__name__}: {e}"})
        r.extra["wall"] = time.perf_counter() - t
        r.extra["host_probe_s"] = common.host_probe_s()
        return r

    loop = common.run_loop(op, args.seconds)
    ops = loop.ops
    failed = [o for o in ops if not o.correct]
    timed = [o for o in ops if o.timings]
    if not timed:
        raise RuntimeError(f"every op failed: {[o.extra.get('why') for o in failed][:3]}")
    measured = [o for o in timed if not o.extra.get("traced")] or timed
    gated, timings = wl.end_to_end(measured)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "jit": args.jit,
        "java_opts": common.spark_conf(work, bool(args.trace), args.jit)["spark.driver.extraJavaOptions"],
        "session_start_s": session_s,
        "datagen_s": datagen_s,
        "build_s": build_s,
        "warmup_ops_s": warm,
        "loop_wall_s": loop.wall_s,
        "jvm_gc_s": common.jvm_gc_s(spark) - gc0,
        "failures": [o.extra.get("why") for o in failed][:5],
        "host_probe_s": [round(o.extra["host_probe_s"], 4) for o in timed],
        "end_to_end": gated,
        **timings,
    }
    if tracer is None:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
        metrics.update({k: {"value": v["value"], "unit": v["unit"]} for k, v in gated.items()})
    else:
        traced = [o for o in timed if o.extra.get("traced")]
        metrics, layer_detail = layers.fold(tracer, {"session.start_s": session_s, "setup.datagen_s": datagen_s})
        # timed sections only: the first op's full correctness check would
        # otherwise count as tracing overhead with the opposite sign
        untraced_s = [common.op_total(o) for o in measured]
        traced_s = [common.op_total(o) for o in traced]
        detail["tracing_overhead_s"] = common.median(traced_s) - common.median(untraced_s)
        detail["traced_op_p50_s"] = common.median(traced_s)
        detail["untraced_op_p50_s"] = common.median(untraced_s)
        detail["layers"] = layer_detail
    result = {"correct": not failed, "attempted": len(ops), "failed": len(failed), "metrics": metrics}
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
