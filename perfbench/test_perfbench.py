"""Tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from spans import Span, Tracer, iteration_shares, self_intervals, \
    wall_shares  # noqa: E402
from stats import count_failures, error_rate, hd_quantile, \
    tail_quantile, valid_name, valid_unit  # noqa: E402


def _shares(spans, t0, t1):
    return wall_shares(self_intervals(spans), t0, t1)


def test_self_time_subtracts_children():
    spans = [Span("runner.node", 0.0, 10.0, None, 0),
             Span("operators.view", 1.0, 4.0, 0, 0),
             Span("compile.render", 2.0, 3.0, 1, 0),
             Span("events.fire", 6.0, 7.0, 0, 0)]
    shares, rest = _shares(spans, 0.0, 10.0)
    assert shares == pytest.approx({"runner.node": 6.0, "operators.view": 2.0,
                                    "compile.render": 1.0, "events.fire": 1.0})
    assert rest == pytest.approx(0.0)


def test_concurrent_spans_share_the_wall_and_add_up():
    # two worker threads overlap on [2, 4]; nothing runs on [8, 10]
    spans = [Span("runner.node", 0.0, 4.0, None, 0),
             Span("catalog.write", 2.0, 6.0, None, 0),
             Span("events.fire", 7.0, 8.0, None, 0)]
    shares, rest = _shares(spans, 0.0, 10.0)
    assert shares == pytest.approx({"runner.node": 3.0, "catalog.write": 3.0,
                                    "events.fire": 1.0})
    assert rest == pytest.approx(3.0)
    assert sum(shares.values()) + rest == pytest.approx(10.0)


def test_spans_are_clipped_to_the_iteration():
    shares, rest = _shares([Span("graph.link", -1.0, 2.0, None, 0)], 0.0, 4.0)
    assert shares == pytest.approx({"graph.link": 2.0})
    assert rest == pytest.approx(2.0)


def test_iteration_shares_keep_only_that_iteration():
    spans = [Span("project.parse", 0.0, 1.0, None, 0),
             Span("runner.node", 2.0, 5.0, None, 1),
             Span("events.fire", 3.0, 4.0, 1, 1)]
    shares, rest = iteration_shares(spans, 1, 2.0, 6.0)
    assert shares == pytest.approx({"runner.node": 2.0, "events.fire": 1.0})
    assert rest == pytest.approx(1.0)


def test_tracer_records_nesting_and_restores_wrapped_entry_points():
    class Store:
        def write(self, x):
            return x * 2

    tracer = Tracer()
    tracer.active = True
    original = Store.write
    tracer.wrap(Store, "write", "catalog.write",
                after=lambda *_a, **_k: tracer.count("catalog.writes"))
    with tracer.span("runner.node"):
        assert Store().write(21) == 42
    tracer.uninstall()
    assert Store.write is original
    assert [(s.name, s.parent) for s in tracer.spans] == [
        ("runner.node", None), ("catalog.write", 0)]
    assert tracer.counts[0]["catalog.writes"] == 1


def test_metric_names_and_units_follow_the_charset():
    for name, unit in {**run.END_TO_END,
                       **run.per_layer_units()}.items():
        assert valid_name(name), name
        assert valid_unit(unit), unit
    for bad in ("", "_lead", "has space", "a" * 65, "query.x/y"):
        assert not valid_name(bad)
    assert not valid_unit("per second")


def test_benchmark_json_lists_what_the_run_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(
        __import__("workloads").WORKLOADS)
    assert len(spec["per_layer"]) <= 128


def test_tail_quantile_needs_ten_samples_beyond_it():
    assert tail_quantile(list(range(49))) is None
    assert tail_quantile(list(range(50))) == pytest.approx(39.2, abs=0.5)
    assert tail_quantile(list(range(99)), q=0.9) is None
    assert tail_quantile(list(range(100)), q=0.9) == pytest.approx(89.1, abs=0.5)
    assert tail_quantile([], q=0.5, min_beyond=0) is None


def test_hd_quantile_is_a_smooth_order_statistic_mean():
    assert hd_quantile([3.0] * 20, 0.8) == pytest.approx(3.0)
    assert hd_quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    xs = [float(v) for v in range(1000)]
    assert hd_quantile(xs, 0.8) == pytest.approx(799.2, abs=1.0)
    # a gap at the quantile's rank: the estimate lies between the sides
    # instead of snapping to one of them
    gap = [0.1] * 42 + [1.0] * 11
    assert 0.1 < hd_quantile(gap, 0.8) < 1.0


def test_error_rate_counts_failed_skipped_and_mismatched_ops():
    statuses = ["success", "pass", "error", "skipped", "fail", "success"]
    attempted, failed = count_failures(statuses, mismatches=1)
    assert (attempted, failed) == (6, 4)
    assert error_rate(attempted + 2, failed) == pytest.approx(0.5)
    assert count_failures(["success"] * 3) == (3, 0)
    assert error_rate(0, 0) == 0.0


def test_process_tree_readers_see_this_process():
    from stats import process_tree, tree_cpu_seconds, vm_kib

    me = os.getpid()
    assert process_tree(me)[0] == me
    assert tree_cpu_seconds(me) > 0
    assert vm_kib(me, "VmHWM") >= vm_kib(me, "VmRSS") > 0
    assert vm_kib(me, "NoSuchField") == 0


def test_peak_memory_skips_forks_that_share_the_parents_memory():
    import subprocess

    from stats import PeakMemory

    # a child running this interpreter's program shows as a not yet
    # exec'd fork; a child running another program counts
    same = subprocess.Popen([sys.executable, "-c", "import time; "
                             "x = bytearray(200 << 20); time.sleep(5)"])
    other = subprocess.Popen(["sleep", "5"])
    try:
        time.sleep(0.5)
        mem = PeakMemory(os.getpid(), os.getpid(), interval=0.01)
        time.sleep(0.05)
        peak = mem.stop()
    finally:
        for p in (same, other):
            p.kill()
            p.wait()
    assert 0 < mem.workers_mb < 50
    assert peak > mem.workers_mb
    assert mem.cpu_seconds() >= 0


def test_clients_run_each_query_once_in_pass_order():
    import threading

    from workloads import CLIENTS, STREAMING, query_names, run_clients

    names = query_names()
    assert names[:len(STREAMING)] == STREAMING
    assert len(set(names)) == len(names) == 53
    started, threads = [], set()
    # every client waits on its first name until all have taken one, so
    # the first CLIENTS names are taken one per client
    first = threading.Barrier(CLIENTS)
    lock = threading.Lock()

    def work(name):
        with lock:
            started.append(name)
            new_thread = threading.get_ident() not in threads
            threads.add(threading.get_ident())
        if new_thread:
            first.wait(timeout=10)

    run_clients(names, work)
    assert sorted(started) == sorted(names)
    assert len(threads) == CLIENTS
    assert set(started[:CLIENTS]) == set(names[:CLIENTS])


class _FakeSparkContext:
    """Just enough of a SparkContext for SparkCollector: ``jobs`` maps a
    retained job id to its stage ids; ids from 0 to ``total`` were run."""

    def __init__(self, jobs: dict, total: int, stages: set):
        from types import SimpleNamespace as NS

        self.total = total

        class Stage:
            def __init__(self, sid):
                self.sid = sid

            def status(self):
                return NS(toString=lambda: "COMPLETE")

            numTasks = executorCpuTime = shuffleReadBytes = \
                shuffleWriteBytes = memoryBytesSpilled = \
                diskBytesSpilled = lambda self: 0

            def executorRunTime(self):
                return 1000 * self.sid  # ms

        def stage(sid):
            if sid not in stages:
                raise LookupError(sid)
            return Stage(sid)

        sc = NS(dagScheduler=lambda: NS(numTotalJobs=lambda: self.total),
                listenerBus=lambda: NS(waitUntilEmpty=lambda _ms: True),
                statusStore=lambda: NS(lastStageAttempt=stage))
        self._jsc = NS(sc=lambda: sc)
        self._tracker = NS(getJobInfo=lambda j: (
            NS(stageIds=jobs[j]) if j in jobs else None))

    def statusTracker(self):
        return self._tracker


def test_spark_collector_counts_new_jobs_and_reports_evicted_ones(capsys):
    from spans import SparkCollector

    sc = _FakeSparkContext({0: [0], 1: [1], 2: [2, 3], 3: [4]}, 1, {0, 1, 2, 3, 4})
    collector = SparkCollector(sc)  # job 0 ran before: not counted
    sc.total = 4
    got = collector.collect()
    assert (got["spark.jobs"], got["spark.stages"]) == (3, 4)
    assert got["spark.executor_run_s"] == 1 + 2 + 3 + 4
    assert capsys.readouterr().err == ""
    assert collector.collect()["spark.jobs"] == 0  # nothing new

    # job 4 and stage 6 were evicted; job 5 still counts
    sc = _FakeSparkContext({5: [6, 7]}, 4, {7})
    collector = SparkCollector(sc)
    sc.total = 6
    got = collector.collect()
    assert (got["spark.jobs"], got["spark.stages"]) == (1, 1)
    assert "2 jobs or stages were gone" in capsys.readouterr().err


def test_query_check_tolerates_only_a_6th_decimal_rounding_tie():
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    from check import _only_float_noise
    from workloads import ROUNDING

    assert _only_float_noise([("0.69971", "292")], [("0.699711", "292")],
                             rel=ROUNDING)
    assert not _only_float_noise([("0.69971", "292")], [("0.699713", "292")],
                                 rel=ROUNDING)
    assert not _only_float_noise([("0.69971", "292")], [("0.69971", "293")],
                                 rel=ROUNDING)
