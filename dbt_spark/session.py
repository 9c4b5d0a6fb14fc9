"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM with N executor threads; on a real cluster the same
settings hold, with AQE doing runtime re-planning (skew-join splitting,
partition coalescing) — the knobs that matter at 100 TB are set here once.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: ``spark.sql.codegen.cache.maxEntries``: Spark's LRU of compiled
#: whole-stage-codegen classes (default 100). See get_spark for the sizing.
CODEGEN_CACHE_ENTRIES = 8192


def _input_bytes(path: str, suffix: str = ".parquet") -> int:
    """Total bytes of the ``suffix`` inputs under ``path`` (0 if unreadable).

    ``path`` may be a plain file (the common case for the test tables, e.g.
    ``documents.parquet``): ``os.walk`` yields nothing for a file, which
    silently reported 0 bytes and pinned every volume-derived partition
    count to its floor."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path) if path.endswith(suffix) else 0
    except OSError:
        return 0
    total = 0
    try:
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(suffix):
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
    except OSError:
        pass
    return total


def _initial_partition_num(cpus: str) -> str | None:
    """Size-gate AQE's wide-start shuffle partition count.

    Starting shuffles at 256 partitions and letting AQE coalesce DOWN is the
    right call when map outputs are large (spill-free partition sizes at
    100 TB); but on sub-GB inputs the wide start just buys 8× task-launch and
    coalesce-bookkeeping overhead per shuffle (round-2 bench showed a broad
    1.5-1.9x drift on sub-second queries). Gate on the actual input size of
    the working scale-factor directory: wide start only when the scan volume
    could produce map outputs worth spreading (>1 GiB), which is exactly the
    regime where a 1000-executor cluster runs. Override via
    SPARK_GRAFT_INITIAL_PARTITIONS.
    """
    explicit = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    if explicit:
        return explicit
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if _input_bytes(sf_dir) > 1 << 30:
        return "256"
    return None  # AQE starts at spark.sql.shuffle.partitions


def get_spark(app_name: str = "dbt_spark", *, extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing + skew-join handling replace manual
      tuning of ``spark.sql.shuffle.partitions`` per query at scale.
    - Arrow on: every pandas_udf / toPandas boundary is Arrow-batched.
    - UTC session timezone: deterministic timestamp semantics vs the oracle.
    - Broadcast threshold left at default (10 MB); dimension tables (region,
      nation, supplier at test SF) broadcast automatically; we additionally
      hint ``F.broadcast`` where the optimizer lacks stats.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # testdata events.parquet stores timestamp[ns]; Spark reads nanos as
        # long under this flag, and read_parquet() converts to timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # Long sessions compile hundreds of whole-stage-codegen classes; the
        # JVM's default 240 MB code cache fills, the JIT stops compiling, and
        # late queries silently run interpreted (10-40x slower). A larger
        # cache keeps codegen'd plans compiled for the whole session.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
        # The generated classes themselves sit in Spark's LRU of compiled
        # codegen classes, 100 entries by default. One pass of perfbench's
        # 53 query_mix queries makes 831 distinct classes, so the LRU
        # thrashed: every pass re-ran Janino on all of them, loaded them as
        # new classes and the JIT compiled them again (about 845 compiles
        # per pass, 23 with this cache; the pass's CPU time fell 17%). The
        # whole 305-query check sweep makes 4,353 distinct classes (counted
        # with the cache unbounded); 8192 holds that with ~1.9x headroom.
        # Kept classes cost Metaspace: 277 MB after that sweep vs 243 MB at
        # 100 entries, about 8 KB per class. Static conf: read only when the
        # session is built.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.scheduler.mode", "FAIR")
    )
    # wide-start shuffles only when the working inputs are big enough to
    # benefit (see _initial_partition_num) — on small inputs the wide start
    # costs more in task launch than it saves in spill
    initial = _initial_partition_num(cpus)
    if initial is not None:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", initial
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _install_reliable_checkpoint(spark)
    return spark


def _install_reliable_checkpoint(spark: SparkSession) -> None:
    """``SPARK_GRAFT_RELIABLE_CKPT=<dir>``: lineage pins survive executor
    loss.

    The engine cuts lineage in its iterative pipelines (suffix array,
    graph rounds, PCA/k-means, LM count tables) with ``localCheckpoint``,
    which stores blocks in EXECUTOR storage — cheap, but at cluster scale
    losing one executor kills the job because the truncated lineage cannot
    recompute. Pointing this knob at a reliable directory (HDFS/object
    store) reroutes every ``localCheckpoint`` in the session to a reliable
    ``checkpoint()`` there, preserving each call site's eager/lazy choice.
    Off by default: on local[N] there are no executors to lose and the
    local form avoids the write-to-storage round trip."""
    ckpt_dir = os.environ.get("SPARK_GRAFT_RELIABLE_CKPT")
    if not ckpt_dir:
        return
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    # patch the CONCRETE DataFrame class (Spark 4's classic session returns
    # pyspark.sql.classic.dataframe.DataFrame, which overrides the abstract
    # base's methods — patching pyspark.sql.DataFrame would be a no-op)
    cls = type(spark.range(0))
    if getattr(cls.localCheckpoint, "_graft_reliable", False):
        return

    def _reliable_local_checkpoint(self, eager: bool = True):
        return cls.checkpoint(self, eager=eager)

    _reliable_local_checkpoint._graft_reliable = True
    cls._graft_local_checkpoint = cls.localCheckpoint
    cls.localCheckpoint = _reliable_local_checkpoint


#: session -> [shuffle.partitions saved by the first stream_conf in, number
#: of stream_conf contexts open on that session]
_stream_saved: dict[SparkSession, list] = {}
_stream_lock = threading.Lock()


@contextmanager
def stream_conf(spark: SparkSession, *source_dirs: str):
    """Pin ``spark.sql.shuffle.partitions`` to a volume-appropriate value
    for the duration of a STREAMING query start.

    A stateful stream's shuffle-partition count is frozen into its
    checkpoint at query start and AQE never re-plans it, so every
    micro-batch pays (partitions x) state-store open/commit files and task
    launches regardless of batch size — measured 1.5-2x of the wall time
    of small stateful streams at 32 partitions. Batch queries get this
    adaptivity from AQE coalescing; streams need it chosen up front from
    the actual source volume: one partition per ~32 MB of landing data,
    min 2 (multi-task semantics stay exercised), capped at the session's
    core parallelism. ``SPARK_GRAFT_STREAM_PARTITIONS`` overrides for
    deployments whose steady-state volume is not the landing dir's size
    at first start (the checkpoint pins whatever is chosen here).

    Contexts may overlap on one session (streams started from several
    threads): the first one in saves the batch value and the last one out
    restores it, so an inner context never restores an outer stream's
    value as if it were the session's."""
    explicit = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if explicit:
        parts = explicit
    else:
        nbytes = sum(_input_bytes(d, suffix="") for d in source_dirs if d)
        cap = spark.sparkContext.defaultParallelism
        # floor of 4: foreachBatch bodies run their batch joins/aggregates
        # under this conf too, so a floor of 2 over-serializes them
        # (measured +5% on sketch-fold streams); 4 keeps the state-store
        # win while leaving batch-side parallelism usable
        parts = str(min(cap, max(4, -(-nbytes // (32 << 20)))))
    with _stream_lock:
        saved = _stream_saved.setdefault(
            spark, [spark.conf.get("spark.sql.shuffle.partitions"), 0])
        saved[1] += 1
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        yield
    finally:
        with _stream_lock:
            saved[1] -= 1
            if not saved[1]:
                del _stream_saved[spark]
                spark.conf.set("spark.sql.shuffle.partitions", saved[0])


#: (applicationId, path, listing) -> analyzed scan DataFrame. Source scans
#: of the immutable test tables are identical across queries; re-analyzing
#: the same file per query costs ~100 ms of py4j/footer traffic each time.
#: DataFrames are plans, not data, but a plan pins its file list at
#: analysis, so the key carries the files' (name, size, mtime) listing
#: (_listing): a path whose files change gets a fresh scan.
_scan_cache: dict[tuple, object] = {}

#: analyzed-scan cache effectiveness, reported by bench.py's orchestration
#: section (each miss is ~100 ms of re-analysis py4j/footer traffic that a
#: long-lived session amortizes away)
scan_cache_stats = {"hits": 0, "misses": 0}


def codegen_stats(spark: SparkSession) -> dict:
    """Janino compiles of generated code in this JVM so far, and their
    summed time (``CodegenMetrics`` count, ``CodeGenerator.compileTime``).
    A compile is a miss in Spark's generated-class cache, so a warm
    session repeating known plans should add none."""
    jvm = spark.sparkContext._jvm
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return {
        "compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        "compile_ms": round(gen.compileTime() / 1e6, 1),
    }


def _listing(path: str) -> tuple:
    """Sorted (relative name, size, mtime) of every file under ``path``;
    a plain file lists itself, a glob or missing path lists nothing."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except OSError:
                continue
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str):
    """spark.read.parquet with timestamp[ns] columns restored to timestamps.

    Parquet TIMESTAMP(NANOS) is illegal for Spark's vectorized reader; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they surface as longs, which we
    convert losslessly (integer DIV) to microsecond timestamps.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    try:
        cache_key = (spark.sparkContext.applicationId, os.path.abspath(path),
                     _listing(path))
    except Exception:  # noqa: BLE001 — e.g. connect-only sessions
        cache_key = None
    if cache_key is not None and cache_key in _scan_cache:
        scan_cache_stats["hits"] += 1
        return _scan_cache[cache_key]
    scan_cache_stats["misses"] += 1

    # self-configure: the DRIVER may hand us a vanilla session without this
    # flag, and TIMESTAMP(NANOS) parquet is otherwise an illegal type for
    # Spark's reader (runtime-settable SQL conf)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(path)
    try:
        file_path = path
        if os.path.isdir(path):
            inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
            file_path = os.path.join(path, inner[0]) if inner else path
        arrow_schema = pq.read_schema(file_path)
        from pyspark.sql.types import LongType

        for fld in arrow_schema:
            # only convert when Spark actually surfaced the nanos as a long —
            # depending on session confs it may already be a proper timestamp
            if str(fld.type) == "timestamp[ns]" and isinstance(
                df.schema[fld.name].dataType, LongType
            ):
                df = df.withColumn(
                    fld.name,
                    F.timestamp_micros(F.expr(f"`{fld.name}` DIV 1000")),
                )
    except Exception:
        pass  # non-pyarrow-readable layout: leave schema as Spark read it
    if cache_key is not None:
        _scan_cache[cache_key] = df
    return df


def forget_scans(root: str) -> None:
    """Drop the scan-cache entries of paths under ``root``, a directory
    that is about to be removed: they can never hit again."""
    prefix = os.path.join(os.path.abspath(root), "")
    for key in list(_scan_cache):
        if os.path.join(key[1], "").startswith(prefix):
            _scan_cache.pop(key, None)


def spread(df, spark: SparkSession, target: int | None = None):
    """Round-robin repartition a scan whose file layout yields fewer input
    splits than cores.

    Parquet scans split per row group; a small file written as ONE row group
    gives the whole downstream pipeline a single task, serializing CPU-heavy
    column math (regex tokenization, array dot products) onto one core. At
    real scale inputs arrive as many files/row groups and the scan already
    parallelizes — then this is a no-op, so the shuffle cost is only ever
    paid on inputs small enough for it not to matter.
    """
    target = target or spark.sparkContext.defaultParallelism
    # memoize per cached source scan (identity match — the file-layout
    # probe below costs a py4j call + os.stat per file otherwise)
    key = next(
        (k + (f"spread{target}",)
         for k, cached in _scan_cache.items() if cached is df),
        None,
    )
    if key is not None and key in _scan_cache:
        return _scan_cache[key]
    out = df.repartition(target) if _scan_tasks(spark, df) < target else df
    if key is not None:
        _scan_cache[key] = out
    return out


def _scan_tasks(spark: SparkSession, df) -> int:
    """Estimate how many input tasks a file scan will get, from file-layout
    METADATA only (``df.inputFiles()`` + os.stat) — Spark's own file-split
    packing formula (FilePartition: bytesPerCore vs maxPartitionBytes vs
    openCostInBytes), never ``df.rdd`` (which forces the plan down to the
    RDD layer just to read a number). Non-file-backed plans return a large
    count (spread() becomes a no-op, matching its contract: it only exists
    to fix single-row-group small-file scans)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. connect-only sessions
        return 1 << 30
    if not files:
        return 1 << 30
    sizes = []
    for f in files:
        p = f[7:] if f.startswith("file://") else f
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            return 1 << 30

    def _conf_bytes(key: str, default: int) -> int:
        try:
            raw = str(spark.conf.get(key)).lower().rstrip("b")
            for suffix, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
                if raw.endswith(suffix):
                    return int(raw[:-1]) * mult
            return int(raw)
        except Exception:
            return default

    open_cost = _conf_bytes("spark.sql.files.openCostInBytes", 4 << 20)
    max_part = _conf_bytes("spark.sql.files.maxPartitionBytes", 128 << 20)
    total = sum(sizes) + open_cost * len(sizes)
    bytes_per_core = total / max(spark.sparkContext.defaultParallelism, 1)
    target_size = min(max_part, max(open_cost, int(bytes_per_core)))
    # greedy bin packing of (size + openCost) chunks into target_size bins —
    # the FilePartition.getFilePartitions shape; ceil is close enough for
    # the "fewer splits than cores?" decision this feeds
    return max(1, -(-total // max(target_size, 1)))


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Register each ``{sf_dir}/{name}.parquet`` as a temp view; return dict of DataFrames."""
    out = {}
    for name in names:
        df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
