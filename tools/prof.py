"""Per-query profiler: time named queries (noop sink, min-of-N) and dump
``explain("formatted")`` to plans/<tag>/<name>_<suffix>.txt.

Usage:
  python tools/prof.py [--reps 3] [--sf DIR] [--tag r13] [--suffix before] \
      [--no-plans] name1 name2 ...

Mirrors bench.py methodology (same session factory, same warmup, noop sink,
min of reps) so numbers are comparable with BENCH_DETAIL.json. Each rep
prints its time and the Janino compiles it caused (``codegen_stats``) to
stderr: a warm rep that still compiles is missing Spark's class cache.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default=None,
                    help="write plans/<tag>/<name>_<suffix>.txt")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf
    from dbt_spark.queries import QUERIES
    from dbt_spark.session import codegen_stats, get_spark

    spark = get_spark("prof")
    sf_dir = args.sf
    if not args.no_warm:
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        for wname in ("cte_composition", "join_range", "window_row_number"):
            wfn = QUERIES.get(wname)
            if wfn is not None:
                wfn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    out = {}
    plan_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.tag)
    for name in args.names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if args.suffix:
            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    plan_dir, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        best = None
        spark.sparkContext.setJobDescription(f"prof:{name}")
        for rep in range(args.reps):
            c0 = codegen_stats(spark)
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            c1 = codegen_stats(spark)
            best = dt if best is None else min(best, dt)
            print(f"{name} rep {rep}: {dt:.3f}s, "
                  f"{c1['compiles'] - c0['compiles']} compiles "
                  f"({c1['compile_ms'] - c0['compile_ms']:.1f} ms)",
                  file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}s", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
