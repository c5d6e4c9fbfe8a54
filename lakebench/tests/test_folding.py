"""Metric folding, byte accounting and span arithmetic — no JVM needed."""

import os
import time

import pytest

import common
import layers
from tracing import Job, Span, attribute_jobs, clip, self_time, union_length


def test_timing_record_median_halves_and_samples():
    r = common.timing_record([5.0, 1.0, 3.0, 2.0, 4.0])
    assert r["value"] == 3.0
    assert r["n"] == 5
    assert r["ops"] == [5.0, 1.0, 3.0, 2.0, 4.0]
    assert r["first_half_p50"] == 3.0  # median of [5, 1]
    assert r["second_half_p50"] == 3.0  # median of [3, 2, 4]


def test_timing_record_single_sample():
    r = common.timing_record([2.5])
    assert r["value"] == r["first_half_p50"] == r["second_half_p50"] == 2.5


def test_median_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        common.median([])


def test_rate_divides_by_summed_seconds():
    assert common.rate(3000, [1.0, 2.0, 3.0]) == 500.0
    with pytest.raises(ValueError):
        common.rate(10, [0.0])


def test_run_loop_is_time_bounded_with_a_floor_of_ops():
    def op(i):
        time.sleep(0.01)
        return common.OpResult({"t": 0.01}, True)

    assert len(common.run_loop(op, seconds=0.0).ops) == 2
    loop = common.run_loop(op, seconds=0.1)
    assert 5 <= len(loop.ops) <= 10 and loop.wall_s <= 0.2


def test_write_amp_is_median_of_per_op_ratios():
    # per-op ratios 2, 3, 10 → median 3 (not the pooled 15/4)
    assert common.write_amp([200, 300, 1000], [100, 100, 100]) == 3.0
    with pytest.raises(ValueError):
        common.write_amp([1, 2], [1])


def test_bytes_written_counts_new_and_rewritten_files_only(tmp_path):
    keep = tmp_path / "keep.bin"
    change = tmp_path / "change.bin"
    keep.write_bytes(b"x" * 10)
    change.write_bytes(b"y" * 20)
    before = common.tree_state(str(tmp_path))
    change.write_bytes(b"z" * 25)
    os.utime(change, ns=(1, 1))  # a rewrite always moves mtime
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "new.bin").write_bytes(b"n" * 7)
    after = common.tree_state(str(tmp_path))
    assert common.bytes_written(before, after) == 25 + 7


def test_restore_tree_replaces_target_in_place(tmp_path):
    src = tmp_path / "pristine"
    dst = tmp_path / "live"
    (src / "a").mkdir(parents=True)
    (src / "a" / "f").write_text("v1")
    common.restore_tree(str(src), str(dst))
    (dst / "a" / "f").write_text("changed")
    (dst / "extra").write_text("stale")
    common.restore_tree(str(src), str(dst))
    assert (dst / "a" / "f").read_text() == "v1"
    assert not (dst / "extra").exists()


def test_jit_settings_reach_the_driver_jvm(tmp_path):
    c1 = common.spark_conf(str(tmp_path), traced=False)["spark.driver.extraJavaOptions"]
    default = common.spark_conf(str(tmp_path), traced=False, jit="default")["spark.driver.extraJavaOptions"]
    assert "-XX:TieredStopAtLevel=1" in c1 and "-XX:-UsePerfData" in c1
    assert "Tiered" not in default and "CompileThreshold" not in default
    assert f"-Djava.io.tmpdir={tmp_path}" in default


def test_host_probe_times_a_fixed_loop():
    assert 0 < common.host_probe_s() < 10


def test_driver_memory_stays_below_host_ram():
    assert common.driver_memory_mb(16_070) == 4_017
    assert common.driver_memory_mb(64_000) == 4_096
    assert common.driver_memory_mb(1_024) == 512


# -- span arithmetic ------------------------------------------------------------
def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10  # nested
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3  # unsorted


def test_clip_keeps_only_the_window():
    assert clip([(0, 5), (8, 12), (20, 30)], 2, 10) == [(2, 5), (8, 10)]


def test_self_time_subtracts_covered_part_once():
    parent = Span(0, "p", None, 0, start=0.0, end=10.0)
    kids = [
        Span(1, "a", 0, 0, start=1.0, end=4.0),
        Span(2, "b", 0, 0, start=3.0, end=6.0),  # overlaps a
        Span(3, "c", 0, 0, start=9.0, end=12.0),  # runs past the parent
    ]
    assert self_time(parent, kids) == pytest.approx(10 - (5 + 1))


def _job(group, start, end, **kw):
    base = dict(exec_s=0.0, shuffle_mb=0.0, spill_mb=0.0, output_mb=0.0)
    base.update(kw)
    return Job(group, start, end, **base)


def test_jobs_attribute_by_group_then_innermost_open_span():
    spans = [
        Span(0, "op", None, 1, start=0.0, end=10.0),
        Span(1, "job.run", 0, 1, start=1.0, end=6.0),
        Span(2, "streaming.bronze", 1, 1, start=1.5, end=3.0),
    ]
    jobs = [
        _job("lakebench-1", 4.0, 4.5),  # by group
        _job("stream-run-id", 2.0, 2.5),  # another thread: innermost by time
        _job(None, 7.0, 8.0),  # only the op is open
        _job(None, 11.0, 12.0),  # after every span
    ]
    got = attribute_jobs(spans, jobs)
    assert [j.start for j in got[1]] == [4.0]
    assert [j.start for j in got[2]] == [2.0]
    assert [j.start for j in got[0]] == [7.0]
    assert sum(len(v) for v in got.values()) == 3


# -- per-layer folding ------------------------------------------------------------
class FakeTracer:
    def __init__(self, spans, jobs, counts):
        self.spans = spans
        self._jobs = jobs
        self.counts = counts

    def spark_jobs(self):
        return self._jobs


def test_fold_medians_outermost_spans_and_coverage():
    spans = []

    def add(name, parent, op, start, end, **attrs):
        spans.append(Span(len(spans), name, parent, op, start, end, attrs))
        return len(spans) - 1

    for op, t in ((1, 0.0), (3, 100.0)):
        root = add("op", None, op, t, t + 10.0)
        w = add("timetravel.write", root, op, t + 1.0, t + 4.0)
        add("timetravel.write", w, op, t + 2.0, t + 3.0)  # nested: not double counted
        add("delta_log.export", root, op, t + 4.0, t + 9.5, bytes=2 * 1024 * 1024)
    jobs = [
        _job("lakebench-1", 1.5, 2.0, exec_s=2.0, output_mb=1.0),
        _job("lakebench-3", 5.0, 6.0, exec_s=1.0),
        _job("lakebench-5", 101.5, 102.0, exec_s=4.0, output_mb=3.0),
    ]
    counts = {1: {"parquet.footer_reads": 4}, 3: {"parquet.footer_reads": 6}}
    metrics, detail = layers.fold(
        FakeTracer(spans, jobs, counts), {"session.start_s": 8.0, "setup.datagen_s": 0.5}
    )
    assert metrics["timetravel.write.wall_s"]["value"] == pytest.approx(3.0)
    assert metrics["timetravel.write.exec_s"]["value"] == pytest.approx(3.0)  # median of 2, 4
    assert metrics["timetravel.write.mb"]["value"] == pytest.approx(2.0)
    assert metrics["delta_log.export.mb"]["value"] == pytest.approx(2.0)
    assert metrics["delta_log.export.jobs"]["value"] == pytest.approx(0.5)  # 1 and 0
    assert metrics["parquet.footer_reads"]["value"] == 5
    assert metrics["streaming.bronze.wall_s"]["value"] == 0.0  # layer not reached
    assert metrics["session.start_s"]["value"] == 8.0
    # every op's children cover 8.5 of 10 s; the rest is un-attributed
    assert detail["op_child_coverage_p50"] == pytest.approx(0.85)
    assert detail["op_unattributed_s_p50"] == pytest.approx(1.5)
    # driver time: op wall minus the union of its jobs
    assert metrics["driver.py_s"]["value"] == pytest.approx(((10 - 1.5) + (10 - 0.5)) / 2)
    assert [m for m, _ in layers.per_layer_names()] == list(metrics)
