"""Benchmark of the dbt_spark engine and query registry.

    python3 perfbench/run.py --workload marts_daily --seed 1 --seconds 5 --trace 0

Run from the repository root. Starts one ``local[4]`` session through
``dbt_spark.session.get_spark``, sets the workload up several times,
warms it up (untimed), then runs whole iterations in a closed loop for at
least ``--seconds`` (and until 50 op samples exist, so a p80 has ten
samples past it), checks the outputs and prints one JSON line last.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
schedule with every iteration traced and reports the per-layer metrics
(README.md). Every file the run writes lives under
``perfbench/.work-<pid>`` and is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
#: the timed loop starts no iteration expected to end after this many
#: seconds, even without 50 op samples (then the run fails)
LOOP_CAP_S = 120.0

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_s_p50": "s",
              "op_s_p80": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

#: span name -> per-layer metric of its wall-time share
SHARES = {
    "project.parse": "project.parse_s",
    "compile.render": "compile.render_s",
    "graph.link": "graph.link_s",
    "graph.select": "graph.select_s",
    "graph.queue_wait": "graph.queue_wait_s",
    "runner.node": "runner.node_overhead_s",
    **{f"operators.{k}": f"operators.{k}_s" for k in
       ("view", "table", "incremental", "snapshot", "seed", "test")},
    "catalog.register": "catalog.register_s",
    "catalog.lazy_flush": "catalog.lazy_flush_s",
    "catalog.write": "catalog.write_s",
    "events.fire": "events.fire_s",
    "artifacts.write": "artifacts.write_s",
    "queries.build": "queries.build_s",
    "queries.execute": "queries.execute_s",
    "harness": "trace.harness_s",
}

#: per-iteration counts reported as their mean over traced iterations
COUNTS = {
    "project.files_reparsed": "count", "compile.renders": "count",
    "graph.empty_polls": "count",
    **{f"operators.{k}_calls": "count" for k in
       ("view", "table", "incremental", "snapshot", "seed", "test")},
    "catalog.views_flushed": "count", "catalog.bytes_written": "bytes",
    "events.fired": "count", "events.log_bytes": "bytes",
    "artifacts.bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "streaming.tmpdirs_leaked": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    from workloads import query_names

    units = {m: "s" for m in SHARES.values()}
    units.update(COUNTS)
    units.update({"project.partial_hit_ratio": "ratio",
                  "catalog.write_amp": "ratio"})
    units.update({f"query.{q}_s": "s" for q in query_names()})
    units.update({"trace.wall_s": "s", "trace.unattributed_s": "s",
                  "jvm.live_heap_mb": "MB"})
    return units


def _env(work: str) -> None:
    """Keep every file the program writes inside the work dir, pin the
    session to 4 cores and a fixed 2 GB heap, and let Spark's Python
    workers import the checkout's dbt_spark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS="4",
        SPARK_DRIVER_MEMORY="2g",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a heap that grows on demand made the JVM's peak RSS differ by a
        # third between runs of the same work (README.md, Memory)
        PYSPARK_SUBMIT_ARGS="--conf spark.driver.defaultJavaOptions=-Xms2g "
                            "pyspark-shell",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]


def _stop(spark) -> None:
    """Stop the session and its JVM (which exits when its stdin closes)
    and wait for it."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _live_heap_mb(spark) -> float:
    """Java heap in use after a full collection: the program's retained
    heap, which the fixed heap size hides from ``peak_rss_mb``."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def measure(args, work: str) -> dict:
    from spans import RETAIN_CONF, SparkCollector, Tracer, \
        install_engine_probes
    from stats import PeakMemory, count_failures, error_rate, \
        hd_quantile, median, tail_quantile, tree_cpu_seconds
    from workloads import WORKLOADS, Context

    from dbt_spark.session import get_spark

    spark = get_spark("perfbench",
                      extra_conf=RETAIN_CONF if args.trace else None)
    memory = PeakMemory(os.getpid(), spark.sparkContext._gateway.proc.pid)
    try:
        def cpu() -> float:
            """The driver, its JVM and the JVM's Python workers."""
            return tree_cpu_seconds(os.getpid()) - memory.cpu_seconds()

        tracer = Tracer()
        collector = SparkCollector(spark.sparkContext) if args.trace else None
        ctx = Context(spark, args.seed, work, tracer, collector)
        wl = WORKLOADS[args.workload](ctx)

        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        checks, mismatches = wl.warm_up()

        walls, cpus, ops, statuses = [], [], [], []
        traced: list[tuple[int, float, float]] = []
        it = 0
        start = time.perf_counter()
        while True:
            if args.trace:
                install_engine_probes(tracer)
                tracer.iteration = it
                tracer.active = True
                collector.collect()  # watermark: count this iteration only
            c0, t0 = cpu(), time.perf_counter()
            lat, st = wl.iteration(it)
            t1, c1 = time.perf_counter(), cpu()
            if args.trace:
                tracer.active = False
                tracer.uninstall()
                traced.append((it, t0, t1))
                if args.workload != "query_mix":  # it collects per pass
                    for k, v in collector.collect().items():
                        tracer.counts[it][k] += v
            walls.append(t1 - t0)
            cpus.append(c1 - c0)
            ops += lat
            statuses += st
            n, m = wl.verify()
            checks, mismatches = checks + n, mismatches + m
            it += 1
            elapsed = time.perf_counter() - start
            if (elapsed >= args.seconds and it >= wl.min_iterations
                    and tail_quantile(ops) is not None):
                break
            # start no iteration that would likely end past the cap
            if elapsed + walls[-1] > LOOP_CAP_S:
                break
        rss = memory.stop()
        live_heap = _live_heap_mb(spark) if args.trace else None
        n, m = wl.check()
        checks, mismatches = checks + n, mismatches + m
    finally:
        memory.stop()
        _stop(spark)

    attempted, failed = count_failures(statuses, mismatches)
    attempted += checks
    p80 = tail_quantile(ops)
    print(f"{args.workload}: seed {args.seed}, {it} iterations, "
          f"{len(ops)} ops, {checks} output checks, "
          f"{failed} failed of {attempted} "
          f"(error_rate {error_rate(attempted, failed):.4f})")
    print("  setup walls " + " ".join(f"{x:.3f}" for x in setups)
          + "; iteration walls " + " ".join(f"{x:.3f}" for x in walls))
    if p80 is None:
        raise RuntimeError(f"only {len(ops)} op samples: no p80 with ten "
                           "samples past it")
    if not args.trace:
        metrics = {
            "setup_s": median(setups), "wall_s": median(walls),
            "op_s_p50": hd_quantile(ops, 0.5), "op_s_p80": p80,
            "cpu_s": median(cpus), "peak_rss_mb": rss,
        }
        units = END_TO_END
    else:
        metrics = layer_metrics(tracer, traced)
        metrics["jvm.live_heap_mb"] = live_heap
        units = per_layer_units()
    for name, value in metrics.items():
        print(f"  {name:44s} {value:16.6f} {units[name]}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def layer_metrics(tracer, traced) -> dict[str, float]:
    """Per-layer means over the traced iterations. The wall-time shares,
    ``trace.harness_s`` (the benchmark's own work inside an iteration) and
    ``trace.unattributed_s`` add up to ``trace.wall_s``, the traced
    counterpart of ``wall_s``."""
    from spans import iteration_shares

    n = len(traced)
    out = dict.fromkeys(per_layer_units(), 0.0)
    totals: dict[str, float] = {}
    unattributed = 0.0
    for it, t0, t1 in traced:
        shares, rest = iteration_shares(tracer.spans, it, t0, t1)
        unattributed += rest
        for name, sec in shares.items():
            metric = SHARES.get(name)
            if metric is None:  # a layer without a metric of its own
                unattributed += sec
            else:
                out[metric] += sec / n
        for k, v in tracer.counts[it].items():
            totals[k] = totals.get(k, 0.0) + v
    for k, v in totals.items():
        if k in out:
            out[k] = v / n
    parsed = totals.get("project.files_reparsed", 0.0) + totals.get(
        "project.parse_hits", 0.0)
    if parsed:
        out["project.partial_hit_ratio"] = totals.get(
            "project.parse_hits", 0.0) / parsed
    landed = totals.get("bench.landed_bytes", 0.0)
    if landed:
        out["catalog.write_amp"] = totals.get("catalog.bytes_written",
                                              0.0) / landed
    out["trace.wall_s"] = sum(t1 - t0 for _, t0, t1 in traced) / n
    out["trace.unattributed_s"] = unattributed / n
    attributed = sum(out[m] for m in set(SHARES.values()))
    print(f"  layer shares {attributed:.6f} s + unattributed "
          f"{out['trace.unattributed_s']:.6f} s = wall "
          f"{out['trace.wall_s']:.6f} s per traced iteration ({n} traced)")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["marts_daily", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dbt_spark", "runner.py")):
        print(f"no dbt_spark package under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    work = os.path.join(HERE, f".work-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        _env(work)
        os.chdir(work)  # Spark's cwd-relative files (spark-warehouse, ...)
        result = measure(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
