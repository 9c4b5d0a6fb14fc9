"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet dir, then compares
row count, column set, and an order-insensitive canonical value dump.
Stricter than a hash: any value mismatch prints the first differing rows.

Usage: python tools/check.py [--sf /root/testdata/sf0.01] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import gc
import math
import os
import shutil
import sys
import tempfile
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        # exact float identity (the whole inventory is engineered to be
        # bit-deterministic; do not tolerance-compare)
        return repr(v)
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_frame(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(canon_value(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def _has_list_cells(df: pd.DataFrame) -> bool:
    """The driver canonicalizes with pandas sort_values, which raises
    `unhashable type: 'list'` on array-typed cells — flag those outputs."""
    for col in df.columns:
        if df[col].dtype == object and len(df):
            # Row 0 may be None (or only later rows hold arrays) — inspect the
            # first few non-null values, not just the first row.
            for v in df[col].dropna().head(5):
                if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                    return True
    return False


def run_one(name, fn, sql, spark, con, sf_dir):
    t0 = time.time()
    spark_pdf = fn(spark, sf_dir).toPandas()
    t_spark = time.time() - t0
    if sql is not None and _has_list_cells(spark_pdf):
        return ("LIST_OUTPUT", "array-typed cells would crash driver hasher", t_spark, None)
    if sql is None:
        return ("ROWS_ONLY", len(spark_pdf), t_spark, None)
    duck_pdf = con.sql(sql).df()
    if len(spark_pdf) != len(duck_pdf):
        return ("ROWCOUNT_MISMATCH", f"spark={len(spark_pdf)} duck={len(duck_pdf)}", t_spark, None)
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return (
            "SCHEMA_MISMATCH",
            f"spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}",
            t_spark,
            None,
        )
    a, b = canon_frame(spark_pdf), canon_frame(duck_pdf)
    if a != b:
        diff = next(
            (i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y
        ) if len(a) == len(b) else ("len", len(a), len(b))
        # Bit-determinism guard (round-8 directive): the inventory contract
        # is exact float identity — NO tolerance is applied. But when the
        # ONLY differences are float cells agreeing to ~1e-9 relative, the
        # cause is almost certainly a non-reproducible float (reduction
        # order, JIT fma, a new non-deterministic expression), which is a
        # CONTRACT violation distinct from a wrong answer — name it so the
        # fix targets determinism, not values.
        if len(a) == len(b) and _only_float_noise(a, b):
            return ("NONDETERMINISTIC_FLOAT",
                    f"exact-compare failed but every diff is float noise "
                    f"<1e-9 rel — bit-determinism contract violated; first "
                    f"diff {diff}", t_spark, None)
        return ("VALUE_MISMATCH", f"first diff {diff} (cols={sorted(spark_pdf.columns)})", t_spark, None)
    return ("OK", len(spark_pdf), t_spark, None)


def _only_float_noise(a, b, rel=1e-9):
    """True iff every differing cell pair is two parseable floats whose
    relative difference is below ``rel`` (the non-reproducible-float
    signature). Any non-float or genuinely different cell → False."""
    saw_diff = False
    for ra, rb in zip(a, b):
        if ra == rb:
            continue
        for x, y in zip(ra, rb):
            if x == y:
                continue
            saw_diff = True
            try:
                fx, fy = float(x), float(y)
            except (TypeError, ValueError):
                return False
            if not (math.isfinite(fx) and math.isfinite(fy)):
                return False
            if abs(fx - fy) > rel * max(1.0, abs(fx), abs(fy)):
                return False
    return saw_diff


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--vanilla", action="store_true",
                    help="driver-fidelity mode: bare SparkSession with only "
                         "the UTC timezone set (no engine tuning confs)")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.master("local[8]")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
    else:
        from dbt_spark.session import get_spark

        spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    n_ok = n_bad = 0
    # the sweep's Python-side temp dirs go to a fresh dir, so what is left
    # in it at the end is what the queries leaked (the JVM extracts its
    # native libraries and artifact dirs to java.io.tmpdir, not here)
    tmp = tempfile.tempdir = tempfile.mkdtemp(prefix="check_tmp_")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            status, detail, t_spark, _ = run_one(name, fn, oracles.get(name), spark, con, args.sf)
        except Exception:
            status, detail, t_spark = "ERROR", traceback.format_exc(limit=8), 0.0
        flag = "ok " if status in ("OK", "ROWS_ONLY") else "BAD"
        if status in ("OK", "ROWS_ONLY"):
            n_ok += 1
        else:
            n_bad += 1
        print(f"[{flag}] {name:28s} {status:18s} {t_spark:6.2f}s  {detail}")
    print(f"\n{n_ok} ok, {n_bad} bad")
    gc.collect()  # drop the last result: its scratch dirs go with it
    print(f"tmpdirs_leaked={len(os.listdir(tmp))}")
    shutil.rmtree(tmp, ignore_errors=True)
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
