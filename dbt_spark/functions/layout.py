"""Physical-layout helpers: multi-dimensional z-order clustering.

Z-ordering (Morton 1966; the public analog is Delta/Databricks
``OPTIMIZE ... ZORDER BY``) interleaves the bits of several normalized sort
keys into one linear key, so range-partitioning + in-file sorting on that key
co-locates rows that are close in EVERY keyed dimension. Parquet row-group
min/max statistics then prune selective predicates on ANY of the z-ordered
columns — a lexicographic ``sort_by(a, b)`` only prunes on ``a``.

All math is codegen'd column expressions; the only driver traffic is a
1-row min/max aggregate per keyed column (bounded at any scale) and the
range partitioner's standard sampling pass."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_layout(
    df: DataFrame,
    cols: "list[str]",
    bits: int = 16,
    out_partitions: "int | None" = None,
    binning: str = "linear",
) -> DataFrame:
    """Return ``df`` re-laid-out in z-order over ``cols`` (2-4 numeric /
    timestamp columns).

    - normalize each column to a ``bits``-bit integer rank — ``linear``
      (min/max span; one 1-row aggregate) or ``quantile`` (approxQuantile
      boundaries, 8-bit, for heavily skewed keys where a linear scale would
      collapse most rows into a handful of bins),
    - interleave bits (bit j of column i lands at position j*k + i),
    - repartitionByRange + sortWithinPartitions on the interleaved key so
      both file boundaries and row groups cluster in every dimension.

    The output has up to ``out_partitions`` files (one per non-empty key
    range), or the session's ``spark.sql.shuffle.partitions`` when that is
    not given, and the clustering granularity follows that count: 2^m equal
    key ranges halve each column's span about m/k times (the top bits go to
    the last columns).
    """
    k = len(cols)
    if not 2 <= k <= 4:
        raise ValueError("zorder_by expects 2-4 columns")
    if binning not in ("linear", "quantile"):
        raise ValueError("zorder binning must be 'linear' or 'quantile'")
    if binning == "quantile":
        # 256 bins/column: boundary lists stay driver-bounded (255 doubles)
        bits = min(bits, 8)
    if bits * k > 63:
        bits = 63 // k
    top = (1 << bits) - 1

    keys = []
    if binning == "quantile":
        nums = df.select(
            *[F.col(c).cast("double").alias(f"__n{i}")
              for i, c in enumerate(cols)])
        qs = [j / (top + 1) for j in range(1, top + 1)]
        # relativeError 1/1024: sketch-based (Greenwald-Khanna), one pass,
        # never a global sort; boundaries ship back as 255 doubles per col
        bounds = nums.approxQuantile([f"__n{i}" for i in range(k)], qs,
                                     1.0 / 1024)
        for i, c in enumerate(cols):
            arr = F.array(*[F.lit(float(b)) for b in bounds[i]])
            # rank = number of boundaries <= value: O(256) codegen'd compares
            keys.append(
                F.size(F.filter(arr, lambda b: F.col(c).cast("double") >= b))
                .cast("bigint"))
    else:
        aggs = []
        for i, c in enumerate(cols):
            num = F.col(c).cast("double")
            aggs += [F.min(num).alias(f"mn{i}"), F.max(num).alias(f"mx{i}")]
        stats = df.agg(*aggs).collect()[0]  # 1 row: bounded driver traffic
        for i, c in enumerate(cols):
            mn, mx = stats[f"mn{i}"], stats[f"mx{i}"]
            if mn is None or mx is None:
                keys.append(F.lit(0).cast("bigint"))
                continue
            span = (mx - mn) or 1.0
            scaled = ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span)) * top
            keys.append(
                F.least(F.lit(top).cast("bigint"),
                        F.greatest(F.lit(0).cast("bigint"),
                                   scaled.cast("bigint")))
            )

    morton = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, key in enumerate(keys):
            bit = F.shiftright(key, b).bitwiseAND(F.lit(1))
            morton = morton.bitwiseOR(F.shiftleft(bit, b * k + i))

    n = out_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        df.withColumn("__zorder__", morton)
        .repartitionByRange(n, "__zorder__")
        .sortWithinPartitions("__zorder__")
        .drop("__zorder__")
    )
