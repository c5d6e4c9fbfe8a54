"""Shared plumbing for the lakehouse benchmark: launch pinning, the Spark
session, the closed-loop op runner, byte accounting and metric folding.

Nothing here imports the package under test at module import time, so the
metric-folding helpers can be unit-tested without a JVM.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "hybrid_data_lakehouse_lab_spark"


# -- launch pinning -----------------------------------------------------------
def host_facts() -> dict:
    """nproc and MemTotal of the host, as the launch settings derive them."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024}


def driver_memory_mb(mem_total_mb: int) -> int:
    """Driver heap: a quarter of host RAM, between 512 MiB and 4 GiB — the
    package default (16g) exceeds small hosts' RAM."""
    return max(512, min(4096, mem_total_mb // 4))


def pin_launch(work_dir: str) -> dict:
    """Set every launch setting in the environment before the JVM starts;
    returns them for the run's output record."""
    facts = host_facts()
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(facts["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_memory_mb(facts['mem_total_mb'])}m",
        # Python workers import the package by name; without the repo root
        # on their path, every Arrow/UDF task fails to unpickle.
        "PYTHONPATH": os.pathsep.join(
            [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": local_dir,
        "TMPDIR": tmp_dir,
        # spark-submit's launcher JVM would write its perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return {**facts, "env": env}


# JIT pinning. A run has room for one or two warm-up ops, and with the
# default tiered JIT op time kept falling for ~6 ops as C2 compiled in the
# background, so per-run medians differed by ~15-20 % between processes.
# C1 only, with compile thresholds at 5 %, levels op time off after the
# warm-up ops; the larger code cache stops the periodic slow op that C1
# alone produced once the default cache filled. The settled ops of the
# default JIT are faster (README.md: Launch pinning); `--jit default`
# runs under it, for long confirmation runs. No perf-data file: the JVM
# would write it under /tmp, outside the work dir.
JIT_OPTS = {
    "c1": "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05 -XX:ReservedCodeCacheSize=512m",
    "default": "",
}


def spark_conf(work_dir: str, traced: bool, jit: str = "c1") -> dict[str, str]:
    java_opts = f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} {JIT_OPTS[jit]} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join(java_opts.split()),
        "spark.python.worker.reuse": "true",
    }
    if traced:
        # the status store must still hold every job of the run when the
        # spans are folded at the end
        conf.update(
            {
                "spark.ui.retainedJobs": "200000",
                "spark.ui.retainedStages": "200000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "1000",
            }
        )
    return conf


def start_session(work_dir: str, traced: bool, jit: str = "c1"):
    from hybrid_data_lakehouse_lab_spark.session import get_spark

    spark = get_spark("lakebench", extra_conf=spark_conf(work_dir, traced, jit))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - the JVM may be gone already
        pass
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - already gone
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits on stdin EOF
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the gateway JVM (VmHWM)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = jvm_pid()
    jvm = 0.0
    if pid:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return own + jvm


def jvm_gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time, seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def host_probe_s() -> float:
    """Seconds a fixed single-threaded Python loop takes: a reading of the
    host's current speed, recorded beside the op times (never gated)."""
    t = time.perf_counter()
    n = 0
    for i in range(1_000_000):
        n += i
    return time.perf_counter() - t


# -- byte accounting ----------------------------------------------------------
def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every regular file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two tree states."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def restore_tree(pristine: str, target: str) -> None:
    """Replace target with a copy of pristine at the same absolute path —
    the stream checkpoint and snapshot manifests hold absolute paths."""
    if os.path.exists(target):
        shutil.rmtree(target)
    shutil.copytree(pristine, target, copy_function=shutil.copy2)


# -- metric folding -----------------------------------------------------------
def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def timing_record(xs: list[float]) -> dict:
    """Median (the gated value) plus sample count, per-op list and the
    first-half / second-half medians that show drift within the loop."""
    half = len(xs) // 2
    return {
        "value": median(xs),
        "unit": "s",
        "n": len(xs),
        "ops": [round(x, 6) for x in xs],
        "first_half_p50": median(xs[:half]) if half else median(xs),
        "second_half_p50": median(xs[half:]),
    }


def rate(units: int | float, seconds: list[float]) -> float:
    """Units of work per second over the summed op seconds."""
    total = sum(seconds)
    if total <= 0:
        raise ValueError("rate over zero seconds")
    return units / total


def write_amp(written: list[int], user_bytes: list[int]) -> float:
    """Median per-op ratio of bytes written to user bytes."""
    if len(written) != len(user_bytes):
        raise ValueError("write_amp needs one user-bytes base per op")
    return median([w / u for w, u in zip(written, user_bytes)])


@dataclass
class OpResult:
    timings: dict[str, float]  # timed sections of this op, seconds
    correct: bool
    extra: dict = field(default_factory=dict)  # bytes, counts


@dataclass
class LoopResult:
    ops: list[OpResult]
    wall_s: float


def op_total(r: OpResult) -> float:
    return sum(r.timings.values())


def run_loop(op, seconds: float, min_ops: int = 2) -> LoopResult:
    """Closed loop, one client: call op(i) back to back for `seconds` of
    wall time — an op starts only if the median op so far fits in what is
    left — and at least `min_ops` times."""
    ops: list[OpResult] = []
    walls: list[float] = []
    t0 = time.perf_counter()
    while len(ops) < min_ops or time.perf_counter() - t0 + median(walls) <= seconds:
        t = time.perf_counter()
        ops.append(op(len(ops)))
        walls.append(time.perf_counter() - t)
    return LoopResult(ops=ops, wall_s=time.perf_counter() - t0)
