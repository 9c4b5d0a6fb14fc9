"""Streaming operators as oracle-checked queries.

- streaming_ingest_checkpoint drives the REAL streaming_table materializer
  over a two-batch landing directory: the checkpoint must make run 2 process
  only batch 2's files. Oracle: the union of both batches.
- session_window_agg: Spark's session_window vs the classic gaps-and-islands
  SQL (LAG + cumulative flag) — proving the streaming-native operator agrees
  with its pure-SQL semantics.

HARNESS / PRODUCT BOUNDARY: the ``mid = <1-row agg>.collect()`` pattern
that appears in this module's setup code is TEST-HARNESS plumbing — it
splits the fixture into replay batches so a batch oracle can verify the
stream. It is bounded (a single aggregate row) and validation-only. Do
NOT copy the replay-verify shape into a production sink: a real
streaming pipeline never collects to decide batch boundaries — the
checkpoint + watermark machinery owns that.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_spark.queries.scratch import Scratch, scratch_query
from dbt_spark.session import read_parquet
from dbt_spark.streaming.stream import drain

GAP_MIN = 30


def _land_two_batches(b1: DataFrame, b2: DataFrame, src: str) -> None:
    """Drop two micro-batch parquet files into ``src`` with ONE Spark job.

    The harness pattern was two sequential coalesce(1) append writes —
    two jobs, and (for the acid upsert) a 1.1 s sleep, because
    FileStreamSource orders files by modification time and same-ms mtimes
    would make batch order nondeterministic. One partitioned write plus
    two renames with EXPLICIT strictly-increasing mtimes halves the setup
    jobs and removes the sleep; batch 0 is always ``b1``'s file."""
    import glob as _glob
    import time as _time

    stage = src.rstrip("/") + "__stage"
    (b1.withColumn("__b", F.lit(0))
     .unionByName(b2.withColumn("__b", F.lit(1)))
     .repartition(1)
     .write.partitionBy("__b").mode("overwrite").parquet(stage))
    now = _time.time()
    for i, b in ((0, b1), (1, b2)):
        part = _glob.glob(os.path.join(stage, f"__b={i}", "*.parquet"))
        if not part:
            # an EMPTY half writes no partition dir — the old two-write
            # form landed an empty file (still a micro-batch); keep that
            empty = f"{stage}_empty{i}"
            b.limit(0).coalesce(1).write.mode("overwrite").parquet(empty)
            part = _glob.glob(os.path.join(empty, "*.parquet"))
        assert len(part) == 1, part
        dst = os.path.join(src, f"batch-{i}.parquet")
        os.rename(part[0], dst)
        os.utime(dst, (now + i, now + i))
    for leftover in _glob.glob(stage + "*"):
        shutil.rmtree(leftover, ignore_errors=True)


def fold_into(store: str, part: DataFrame,
              merge: Callable[[DataFrame], DataFrame]) -> None:
    """foreachBatch sink of a lattice-merge store: fold one micro-batch's
    partial state ``part`` into the parquet dir ``store`` as
    ``merge(previous store ∪ part)`` (``part`` alone on the first batch).
    The merged state is written to a sibling dir and swapped in, so the
    read (old store) and the write (next) never touch the same path and
    no driver materialization is needed; the store stays as small as
    ``merge`` keeps it, regardless of how many batches fold in."""
    if os.path.isdir(store):
        prev = part.sparkSession.read.parquet(store)
        part = merge(prev.unionByName(part))
    part.coalesce(1).write.mode("overwrite").parquet(store + "_next")
    shutil.rmtree(store, ignore_errors=True)
    os.rename(store + "_next", store)


def _fold_stream(spark: SparkSession, scratch: Scratch, df: DataFrame,
                 key: str, partial: Callable[[DataFrame], DataFrame],
                 merge: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """The sketch/partial-sum streaming shape: land ``df`` as two
    micro-batch files split at the midpoint of ``key``, stream them one
    file per trigger, fold each batch's ``partial(batch)`` into
    ``scratch.store`` with ``merge`` (``fold_into``), and return the
    merged store."""
    mid = df.agg(F.max(key)).collect()[0][0] // 2  # harness split
    _land_two_batches(df.filter(F.col(key) <= mid),
                      df.filter(F.col(key) > mid), scratch.landing)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(scratch.landing)
    )

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        fold_into(scratch.store, partial(batch_df), merge)

    drain(stream.writeStream.foreachBatch(fold)
          .option("checkpointLocation", scratch.checkpoint),
          spark, scratch.landing)
    return spark.read.parquet(scratch.store)


def _landing_stream_model(spark: SparkSession, scratch: Scratch,
                          name: str, sql: str):
    """A mini engine context in ``scratch`` holding the source
    ``landing.events`` (files under ``scratch.landing``) and the
    streaming_table model ``name`` whose ``sql`` reads it."""
    from dbt_spark.plans.manifest import ManifestNode, NodeType
    from dbt_spark.queries.materializations import _mini_ctx, _model_node

    ctx = _mini_ctx(spark, scratch)
    src = ManifestNode(
        unique_id="source.matq.landing.events",
        name="events",
        package_name="matq",
        path="models/sources.yml",
        resource_type=NodeType.Source,
        source_name="landing",
    )
    src.config.meta["location"] = scratch.landing
    ctx.manifest.add(src)
    node = _model_node(name, sql, materialized="streaming_table")
    node.sources = [("landing", "events")]
    node.depends_on = [src.unique_id]
    ctx.manifest.add(node)
    return ctx, node


@scratch_query
def streaming_ingest_checkpoint(spark: SparkSession, sf_dir: str,
                                scratch: Scratch) -> DataFrame:
    from dbt_spark.streaming.stream import materialize_streaming

    events = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    mid = events.agg(F.max("event_id")).collect()[0][0] // 2
    ctx, node = _landing_stream_model(
        spark, scratch, "events_stream",
        "SELECT event_id, user_id, ts, event_type, value "
        "FROM {{ source('landing', 'events') }}",
    )

    # batch 1 → run; batch 2 → run again (checkpoint skips batch 1's files)
    landing = scratch.landing
    events.filter(F.col("event_id") <= mid).write.mode("append").parquet(landing)
    materialize_streaming(ctx, node)
    events.filter(F.col("event_id") > mid).write.mode("append").parquet(landing)
    materialize_streaming(ctx, node)
    return ctx.store.read("main", "events_stream")


@scratch_query
def stream_dedup_watermark(spark: SparkSession, sf_dir: str,
                           scratch: Scratch) -> DataFrame:
    """dropDuplicatesWithinWatermark over a file stream: the same slice of
    events lands TWICE (duplicate files across micro-batches); the stream
    emits each event_id once, with state bounded by the 1-hour watermark
    horizon instead of full-stream history. Final relation = DISTINCT events
    slice — exactly SQL-expressible, so oracle-checked."""
    from dbt_spark.streaming.stateful import streaming_dedup

    events = (
        read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        .select("event_id", "user_id", "ts", "value")
        .filter(F.col("event_id") < 3000)
    )
    src = scratch.landing
    _land_two_batches(events, events, src)  # second file = exact duplicates

    stream = spark.readStream.schema(events.schema).parquet(src)
    deduped = streaming_dedup(stream, ["event_id"], event_time="ts", watermark="1 hour")
    drain(deduped.writeStream.format("parquet")
          .option("path", scratch.output)
          .option("checkpointLocation", scratch.checkpoint)
          .outputMode("append"), spark, src)
    return spark.read.parquet(scratch.output).select(
        "event_id", "user_id", "value")


@scratch_query
def stream_static_join(spark: SparkSession, sf_dir: str,
                       scratch: Scratch) -> DataFrame:
    """Stream-static enrichment: a streaming_table model whose SQL joins the
    streaming source (events landing dir) against a static ref (customer
    dim) — the canonical streaming enrichment shape. availableNow processes
    the full landing dir, so the result equals the batch join (the oracle).

    Scale: the static side is a broadcast per micro-batch (Spark re-plans it
    each batch); no stream-side shuffle — enrichment is map-only."""
    from dbt_spark.queries.materializations import _model_node
    from dbt_spark.streaming.stream import materialize_streaming

    ctx, node = _landing_stream_model(
        spark, scratch, "events_enriched",
        "SELECT e.event_id, e.user_id, e.value, d.c_mktsegment AS segment "
        "FROM {{ source('landing', 'events') }} e "
        "JOIN {{ ref('cust_dim') }} d ON e.user_id = d.c_custkey",
    )
    events = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    events.write.mode("append").parquet(scratch.landing)

    cust = read_parquet(spark, os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_mktsegment"
    )
    ctx.store.write_table("main", "cust_dim", cust, kind="table")
    dim = _model_node("cust_dim", "select 1", materialized="table")
    ctx.manifest.add(dim)
    node.refs = [(None, "cust_dim")]
    node.depends_on.append(dim.unique_id)

    materialize_streaming(ctx, node)
    return ctx.store.read("main", "events_enriched").orderBy("event_id")


@scratch_query
def stream_stream_interval_join(spark: SparkSession, sf_dir: str,
                                scratch: Scratch) -> DataFrame:
    """Watermarked stream-stream inner join with a time-interval condition:
    clicks joined to the same user's purchases within the next 30 minutes —
    the canonical funnel/attribution shape (Structured Streaming's
    stream-stream join, which requires both watermarks AND the interval
    bound to know when join state can be dropped).

    availableNow processes the whole landing dir, so the emitted matches
    equal the batch interval join — the DuckDB oracle.

    Scale: state is bounded by watermark + interval (30 min of per-user
    events per side, not the full history); the join shuffles both sides on
    user_id once; at 100 TB the same plan holds with per-user state capped
    by the time bound."""
    events = (
        read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        .select("event_id", "user_id", "ts", "event_type")
        .filter(F.col("event_id") < 3000)
    )
    src = scratch.landing
    events.coalesce(1).write.mode("append").parquet(src)

    from dbt_spark.streaming.stateful import _watermarkable

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    stream = _watermarkable(stream, "ts")
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr("c_user = p_user AND p_ts >= c_ts "
               "AND p_ts <= c_ts + INTERVAL 30 MINUTES"),
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    drain(joined.writeStream.format("parquet")
          .option("path", scratch.output)
          .option("checkpointLocation", scratch.checkpoint)
          .outputMode("append"), spark, src)
    return spark.read.parquet(scratch.output)


def session_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_spark.streaming.stateful import session_window_agg

    events = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "ts", "value"
    )
    sess = session_window_agg(events, "user_id", "ts", gap=f"{GAP_MIN} minutes")
    return sess.select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed (tumbling) event-time windows via Spark's streaming-native
    ``window()`` — the batch expression of a Structured Streaming windowed agg
    (readStream → withWatermark → window() uses the identical operator).

    Scale: one shuffle on window_start; map-side partial aggregation bounds
    the shuffle to one row per (partition, window)."""
    events = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events", "total_value",
        )
    )


def hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 1-hour windows every 30 minutes —
    each event lands in window/slide = 2 windows."""
    events = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events", "total_value",
        )
    )



@scratch_query
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str,
                               scratch: Scratch) -> DataFrame:
    """Streaming keyed-upsert sink via foreachBatch (the canonical pattern
    from the public Structured Streaming docs: foreachBatch + MERGE into the
    warehouse; at 100 TB the inner rewrite becomes Delta/Iceberg MERGE —
    per-batch transactions instead of the full-relation rewrite used here).

    maxFilesPerTrigger=1 under availableNow forces MULTIPLE micro-batches,
    so cross-batch merge semantics (a later batch superseding an earlier
    batch's row for the same user) are actually exercised, checkpointed and
    deterministic. Final state = keep-latest-by-(ts, event_id) per user —
    exactly the batch window-rank, which is the oracle."""
    from pyspark.sql import Window as W

    from dbt_spark.catalog import RelationStore

    events = (
        read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        .select("event_id", "user_id", "ts", "value")
        .filter(F.col("event_id") < 2000)
    )
    src = scratch.landing
    store = RelationStore(spark, scratch.store)
    # two files -> two micro-batches
    _land_two_batches(events.filter(F.col("event_id") < 1000),
                      events.filter(F.col("event_id") >= 1000), src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def upsert(batch_df, batch_id):
        cur = batch_df
        if store.get("main", "user_latest") is not None:
            cur = store.read("main", "user_latest").select(
                *batch_df.columns).unionByName(batch_df)
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        latest = (
            cur.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        store.write_table("main", "user_latest", latest, kind="table")

    drain(stream.writeStream.foreachBatch(upsert)
          .option("checkpointLocation", scratch.checkpoint), spark, src)
    return store.read("main", "user_latest").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").cast("double").alias("last_value"),
    )


@scratch_query
def stream_neardup_ingest(spark: SparkSession, sf_dir: str,
                          scratch: Scratch) -> DataFrame:
    """Cross-batch streaming near-dup ingestion
    (streaming/stateful.py:minhash_ingest_gate): two micro-batches of
    documents, the second carrying PLANTED near-duplicates of batch-1 docs
    (one trailing word changed) — the gate must admit batch-1 docs, admit
    batch-2 novel docs, and reject the planted copies against the persisted
    LSH signature store. The function RAISES unless the streamed result
    matches a sequential batch-mode replay of the same library functions
    (within-batch minhash_dedup + bucket-collision gate), so the driver's
    rows check doubles as the cross-batch-semantics gate (bucket keys are
    engine hashes → rows-only, like the other LSH ops)."""
    from dbt_spark.functions.dedup import _banded_signatures, minhash_dedup
    from dbt_spark.streaming.stateful import minhash_ingest_gate

    docs = (
        read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
    )
    b1 = docs.filter(F.col("doc_id") < 120)
    planted = (b1.filter(F.col("doc_id") < 40)
               .select((F.col("doc_id") + 9000).alias("doc_id"),
                       F.concat_ws(" ", F.expr(
                           "concat_ws(' ', slice(split(text, ' '), 1, "
                           "size(split(text, ' ')) - 1))"),
                           F.lit("zzz")).alias("text")))
    b2 = docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 240)
                     ).unionByName(planted)

    src = scratch.landing
    _land_two_batches(b1, b2, src)

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    drain(stream.writeStream
          .foreachBatch(minhash_ingest_gate(scratch.output, scratch.store))
          .option("checkpointLocation", scratch.checkpoint), spark, src)
    got = {r["doc_id"] for r in
           spark.read.parquet(scratch.output).select("doc_id").collect()}
    # the result below is built from driver-side rows
    scratch.remove()

    # sequential batch-mode replay with the same library primitives
    k1 = minhash_dedup(b1, "text", "doc_id", threshold=0.5,
                       num_perm=16, bands=8)
    s1 = _banded_signatures(k1, "text", "doc_id", 16, 8, 2)
    k2 = minhash_dedup(b2, "text", "doc_id", threshold=0.5,
                       num_perm=16, bands=8)
    s2 = _banded_signatures(k2, "text", "doc_id", 16, 8, 2)
    hit = (s2.join(s1.select("band", "bh"), ["band", "bh"], "left_semi")
           .select("id").distinct())
    k2f = k2.join(hit.withColumnRenamed("id", "doc_id"), "doc_id",
                  "left_anti")
    want = ({r["doc_id"] for r in k1.select("doc_id").collect()}
            | {r["doc_id"] for r in k2f.select("doc_id").collect()})
    if got != want:
        raise RuntimeError(
            f"streamed near-dup gate diverged from batch replay: "
            f"only-streamed={sorted(got - want)[:5]} "
            f"only-batch={sorted(want - got)[:5]}")
    if any(d >= 9000 for d in got):
        raise RuntimeError("a planted near-duplicate survived the gate")
    return spark.createDataFrame(
        sorted((int(d),) for d in got), "doc_id long")


@scratch_query
def stream_heavy_hitters(spark: SparkSession, sf_dir: str,
                         scratch: Scratch) -> DataFrame:
    """STREAMING per-source heavy hitters, value-paired: a cross-batch
    Misra-Gries summary per source (applyInPandasWithState,
    streaming/stateful.py:mg_heavy_hitters_stream — counters persist in
    checkpointed state, so the superset guarantee covers the WHOLE stream,
    not each micro-batch) generates candidates over two micro-batches;
    an exact batch verify pass then counts only the candidate set and
    applies the count > n_source/k threshold. Because MG only GENERATES
    candidates, the final output is exact and closed-form — a streaming
    query the DuckDB oracle can restate. The function additionally RAISES
    unless the candidate-verified result equals the direct full groupBy
    threshold (the cross-batch-state gate: dropping state between batches
    would lose hitters concentrated in batch 1).

    Scale: state is k counters per source; per-batch traffic is the
    summary rows; the verify aggregate holds candidates, never the
    vocabulary — the streaming twin of heavy_hitters_mg."""
    import uuid as _uuid

    from dbt_spark.streaming.stateful import mg_heavy_hitters_stream

    k = 50
    docs = (
        read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "source", "text")
    )
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    src = scratch.landing
    _land_two_batches(b1, b2, src)

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    tok_stream = stream.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    name = f"hh_mg_{_uuid.uuid4().hex[:8]}"
    drain(mg_heavy_hitters_stream(tok_stream, k)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", scratch.checkpoint), spark, src)
    cands = spark.table(name).select("source", "token").distinct()

    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    ns = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    verified = (
        toks.join(F.broadcast(cands), ["source", "token"], "left_semi")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(ns), "source")
        .filter(F.col("cnt") > F.col("n_src") / float(k))
        .select("source", "token", F.col("cnt").cast("bigint").alias("cnt"))
    )
    direct = (
        toks.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(ns), "source")
        .filter(F.col("cnt") > F.col("n_src") / float(k))
        .select("source", "token")
    )
    verified = verified.localCheckpoint()
    # the pinned result no longer reads the memory sink or the landing
    # files: release the sink's rows and the scratch tree now
    spark.catalog.dropTempView(name)
    scratch.remove()
    missed = direct.join(verified, ["source", "token"], "left_anti").count()
    extra = verified.join(direct, ["source", "token"], "left_semi").count()
    if missed != 0 or extra != verified.count():
        raise RuntimeError(
            f"streamed MG candidates diverged from the direct threshold: "
            f"missed={missed}")
    return verified


@scratch_query
def stream_foreachbatch_upsert_acid(spark: SparkSession, sf_dir: str,
                                    scratch: Scratch) -> DataFrame:
    """Streaming upsert with PER-BATCH TRANSACTIONAL MERGE — the exact
    shape the public docs prescribe for Delta (`foreachBatch` + MERGE, one
    transaction per micro-batch), executed here over the in-repo
    transactional format: each micro-batch dedupes itself (keep latest per
    user) and commits ONE file-pruned ``TxParquetFormat.merge_into``
    against the running table. Semantics are the honest MERGE contract:
    within a batch, latest (ts, event_id) per user wins; across batches,
    the later batch's row supersedes (last-arriving-batch-wins), which the
    oracle states as rank by (batch, ts, event_id).

    Scale: unlike the full-relation rewrite of stream_foreachbatch_upsert,
    each batch commit rewrites ONLY the data files containing matched
    users; the commit is metadata. This is the per-batch-transaction sink
    that keeps a 100 TB keyed table ingesting continuously."""
    from pyspark.sql import Window as W

    from dbt_spark.catalog import RelationStore
    from dbt_spark.formats import table_format

    events = (
        read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        .select("event_id", "user_id", "ts", "value")
        .filter(F.col("event_id") < 2000)
    )
    src = scratch.landing
    store = RelationStore(spark, scratch.store)
    fmt = table_format("txparquet")
    # two files -> two micro-batches; _land_two_batches stamps explicit
    # strictly-increasing mtimes, replacing the 1.1 s sleep this query
    # previously paid to guarantee deterministic arrival order
    _land_two_batches(events.filter(F.col("event_id") < 1000),
                      events.filter(F.col("event_id") >= 1000), src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def upsert(batch_df, batch_id):
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        rel = store.get("main", "user_latest_acid")
        if rel is None:
            store.write_table("main", "user_latest_acid", latest,
                              kind="table", file_format="txparquet")
        else:
            # one transactional, file-pruned MERGE per micro-batch
            fmt.merge_into(spark, rel.path, latest, ["user_id"])
            store.invalidate(rel)

    drain(stream.writeStream.foreachBatch(upsert)
          .option("checkpointLocation", scratch.checkpoint), spark, src)
    rel = store.get("main", "user_latest_acid")
    if fmt.latest_version(rel.path) < 2:
        raise RuntimeError("expected one commit per micro-batch")
    return store.read("main", "user_latest_acid").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").cast("double").alias("last_value"),
    )


@scratch_query
def stream_pii_scrub(spark: SparkSession, sf_dir: str,
                     scratch: Scratch) -> DataFrame:
    """STREAMING PII scrub gate: the chained email→phone→ipv4 redaction
    (functions/pii.py) runs INSIDE a file stream — documents land in two
    micro-batch file drops, each availableNow run scrubs only the new
    files (checkpoint), and the accumulated output must equal the batch
    pipeline byte-for-byte: the oracle is the SAME per-lang report as
    ``pii_redact_stats`` (counts + doc_id-ordered md5 fold over every
    redacted byte), so this is a VALUE-PAIRED streaming query.

    Scale: the redaction is stateless row-local codegen — the streaming
    plan carries no state store at all; throughput is the file-source
    read rate. The quarantine shape (scrub-on-ingest before anything
    lands in the lake) is the standard privacy-boundary deployment."""
    from dbt_spark.functions.pii import redact_pii
    from dbt_spark.queries.hygiene import _with_pii

    docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    dirty = _with_pii(docs).select("doc_id", "lang", "full_text")
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    src = scratch.landing

    def run_once() -> None:
        stream = spark.readStream.schema(dirty.schema).parquet(src)
        cols = redact_pii(F.col("full_text"))
        scrubbed = stream.select(
            "doc_id", "lang",
            cols["emails"].alias("emails"),
            cols["phones"].alias("phones"),
            cols["ips"].alias("ips"),
            cols["redacted"].alias("redacted"),
        )
        drain(scrubbed.writeStream.format("parquet")
              .option("path", scratch.output)
              .option("checkpointLocation", scratch.checkpoint)
              .outputMode("append"), spark, src)

    dirty.filter(F.col("doc_id") <= mid).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()
    dirty.filter(F.col("doc_id") > mid).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()

    res = spark.read.parquet(scratch.output)
    return (
        res.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("emails").cast("bigint").alias("emails"),
            F.sum("phones").cast("bigint").alias("phones"),
            F.sum("ips").cast("bigint").alias("ips"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("doc_id").alias("k"),
                                    F.md5(F.col("redacted")).alias("h"),
                                )
                            )
                        ),
                        lambda s: s["h"],
                    ),
                    "",
                )
            ).alias("redacted_md5"),
        )
        .orderBy("lang")
    )


@scratch_query
def stream_turn_dedup(spark: SparkSession, sf_dir: str,
                      scratch: Scratch) -> DataFrame:
    """STREAMING turn-level dedup — the streaming twin of
    queries/sft.py::turn_dedup_normalized: conversation turns land in two
    micro-batch file drops and a STATEFUL ``dropDuplicates(conv_id,
    norm)`` suppresses every repeat of a normalized turn, including
    repeats arriving in a LATER batch (checkpointed state store — the
    cross-batch suppression is what the second drop proves; the fixture's
    canned 'thanks!' turns recur across the doc_id split).

    Pairing is arrival-order-independent by construction: the KEPT SET of
    normalized turns per conversation is deterministic even though which
    occurrence survives is not, so the outputs are set-level — n_unique,
    n_dropped, and an md5 fold over the SORTED per-turn md5s. Oracle: the
    same set computed relationally.

    Scale: dedup state is one entry per distinct (conv, norm) — in a
    production unbounded stream this runs with
    ``withWatermark`` + event-time in the dedup key to bound state
    (stream_dedup_watermark covers that shape); here the corpus is finite
    and availableNow-driven."""
    from dbt_spark.queries.sft import _turns

    turns = _turns(spark, sf_dir).select("conv_id", "doc_id", "content")
    mid = turns.agg(F.max("doc_id")).collect()[0][0] // 2  # harness split
    src = scratch.landing

    def run_once() -> None:
        stream = spark.readStream.schema(
            turns.select("conv_id", "content").schema).parquet(src)
        norm = F.lower(F.trim(F.regexp_replace("content", r"\s+", " ")))
        deduped = (
            stream.select("conv_id", norm.alias("norm"))
            .dropDuplicates(["conv_id", "norm"])
        )
        drain(deduped.writeStream.format("parquet")
              .option("path", scratch.output)
              .option("checkpointLocation", scratch.checkpoint)
              .outputMode("append"), spark, src)

    turns.filter(F.col("doc_id") <= mid).select(
        "conv_id", "content").coalesce(1).write.mode("append").parquet(src)
    run_once()
    turns.filter(F.col("doc_id") > mid).select(
        "conv_id", "content").coalesce(1).write.mode("append").parquet(src)
    run_once()

    kept = spark.read.parquet(scratch.output)
    totals = turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"))
    uniq = kept.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.md5("norm"))), ",")
        ).alias("norms_md5"),
    )
    return (
        totals.join(uniq, "conv_id")
        .select(
            "conv_id", "n_turns", "n_unique",
            (F.col("n_turns") - F.col("n_unique"))
            .cast("bigint").alias("n_dropped"),
            "norms_md5",
        )
        .orderBy("conv_id")
    )


ORACLES = {
    "stream_hll_cardinality": """
        WITH toks AS (
            SELECT lang,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ), hashed AS (
            SELECT lang,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hp
            FROM toks
        ), regs AS (
            SELECT lang, hp & 4095 AS bucket,
                   max(CASE WHEN (hp >> 12) = 0 THEN 49
                            ELSE 49 - length(bin(hp >> 12)) END) AS rho
            FROM hashed GROUP BY 1, 2
        ), agg AS (
            SELECT lang, count(*) AS v_obs,
                   CAST(sum(CAST(pow(2.0, CAST(52 - rho AS DOUBLE))
                                 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_int
            FROM regs GROUP BY 1
        ), est AS (
            SELECT lang, v_obs,
                   (0.7213 / (1.0 + 1.079 / 4096)) * 4096 * 4096
                   / (CAST(s_int AS DOUBLE) / 4503599627370496.0
                      + CAST(4096 - v_obs AS DOUBLE)) AS e_raw
            FROM agg
        )
        SELECT lang,
               CAST(v_obs AS BIGINT) AS v_obs,
               round(CASE WHEN e_raw <= 2.5 * 4096 AND (4096 - v_obs) > 0
                          THEN 4096.0 * ln(4096.0 / CAST(4096 - v_obs AS DOUBLE))
                          ELSE e_raw END, 6) AS hll_estimate_r6
        FROM est ORDER BY lang
    """,
    "stream_pii_scrub": """
        WITH r AS ({REDACT})
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(emails) AS BIGINT) AS emails,
               CAST(sum(phones) AS BIGINT) AS phones,
               CAST(sum(ips) AS BIGINT) AS ips,
               md5(string_agg(md5(redacted), '' ORDER BY doc_id)) AS redacted_md5
        FROM r GROUP BY lang ORDER BY lang
    """,
    # the streamed MG state only GENERATES candidates; the exact verify
    # pass makes the output the closed-form per-source threshold
    "stream_heavy_hitters": """
        WITH toks AS (
            SELECT source,
                   unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x <> '')) AS token
            FROM documents
        ),
        ns AS (SELECT source, count(*) AS n FROM toks GROUP BY source)
        SELECT toks.source, token, CAST(count(*) AS BIGINT) AS cnt
        FROM toks JOIN ns ON toks.source = ns.source
        GROUP BY toks.source, token, ns.n
        HAVING count(*) > ns.n / 50.0
    """,
    "stream_media_triage": """
        SELECT doc_id,
               CASE WHEN doc_id % 11 IN (3, 7) THEN 'quarantined'
                    ELSE 'kept' END AS status,
               CASE WHEN doc_id % 11 = 3 THEN NULL
                    WHEN doc_id % 11 = 7 THEN 'gif'
                    ELSE CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                         WHEN 2 THEN 'gif' ELSE 'bmp' END END AS media_format,
               CASE WHEN doc_id % 11 = 3 THEN 'unknown_container'
                    WHEN doc_id % 11 = 7 THEN 'bad_dims'
                    ELSE NULL END AS reason
        FROM documents
    """,

    "stream_foreachbatch_upsert_acid": """
        WITH ranked AS (
            SELECT user_id, event_id, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY (event_id >= 1000) DESC, ts DESC,
                                event_id DESC) AS rn
            FROM events WHERE event_id < 2000
        )
        SELECT user_id,
               event_id AS last_event_id,
               CAST(value AS DOUBLE) AS last_value
        FROM ranked WHERE rn = 1
    """,
    "stream_foreachbatch_upsert": """
        WITH ranked AS (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE event_id < 2000
        )
        SELECT user_id,
               event_id AS last_event_id,
               CAST(value AS DOUBLE) AS last_value
        FROM ranked WHERE rn = 1
    """,
    "stream_static_join": """
        SELECT e.event_id, e.user_id, e.value, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY e.event_id
    """,
    "tumbling_window_agg": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    # each event belongs to exactly 2 overlapping 1h/30min windows:
    # start = bucket30(ts) - k*30min for k in {0,1}
    "hopping_window_agg": """
        SELECT ws AS window_start,
               ws + INTERVAL '1 hour' AS window_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM (
            SELECT time_bucket(INTERVAL '30 minutes', ts)
                       - (k * INTERVAL '30 minutes') AS ws,
                   value
            FROM events, UNNEST([0, 1]) AS t(k)
        ) expanded
        GROUP BY ws
    """,
    "streaming_ingest_checkpoint": """
        SELECT event_id, user_id, ts, event_type, value FROM events
    """,
    "stream_dedup_watermark": """
        SELECT event_id, user_id, value FROM events WHERE event_id < 3000
    """,
    "stream_stream_interval_join": """
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id AS user_id
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30' MINUTE
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          AND c.event_id < 3000 AND p.event_id < 3000
    """,
    # gaps-and-islands: a new session starts when the gap from the previous
    # event (per user) exceeds GAP_MIN; session_window's end = last_ts + gap
    "session_window_agg": f"""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             <= INTERVAL '{GAP_MIN}' MINUTE
                        THEN 0 ELSE 1 END AS new_session
            FROM events
        ),
        islands AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '{GAP_MIN}' MINUTE AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(value) AS DOUBLE) AS total_value
        FROM islands
        GROUP BY user_id, session_id
    """,
}



@scratch_query
def stream_media_triage(spark: SparkSession, sf_dir: str,
                        scratch: Scratch) -> DataFrame:
    """Streaming media-ingest triage (streaming/stateful.py:
    media_triage_gate): two micro-batches of binary blobs — genuine
    PNG/JPEG/GIF/BMP container files (REAL header builders), plus PLANTED
    corrupt uploads (junk bytes) and out-of-policy files (zero-width GIF)
    closed-form in doc_id — routed by the pure-bytes header parsers into
    kept (with parsed metadata) vs quarantined (with a named reason).
    RAISES unless the streamed kept/quarantined sets match a direct
    batch-mode triage of the same blobs; the per-doc routing is
    closed-form, so the final table is ORACLE-PAIRED (a value-checked
    STREAMING query)."""
    from dbt_spark.functions.multimodal import _make_header_builders
    from dbt_spark.streaming.stateful import media_triage_gate

    builders = _make_header_builders()

    def gen(it):
        import pandas as _pd

        b_png, b_jpeg, b_gif, b_bmp, _b_wav = builders
        mk = [b_png, b_jpeg, b_gif, b_bmp]

        def build(d):
            if d % 11 == 3:   # corrupt upload: no known signature
                return bytes((d * 31 + i * 7) % 251 for i in range(64))
            if d % 11 == 7:   # parseable but out of policy: zero width
                return b_gif(0, 5)
            return mk[d % 4](16 + (d * 7) % 2048, 16 + (d * 13) % 1152)

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({"doc_id": ids,
                                 "payload": [build(d) for d in ids]})

    # _docs_raw spread + lazy pin: the encode chain parallelizes instead
    # of running on the scan's single row-group task, and runs ONCE for
    # the two landing drops plus the batch-mode replay check
    from dbt_spark.queries.llmops import _docs_raw

    docs = _docs_raw(spark, sf_dir).select("doc_id")
    # EAGER pin (see stream_pair_phash_dedup): coalesce(1) writes would
    # otherwise fold the whole encode into their single task
    blobs = docs.mapInPandas(
        gen, schema="doc_id long, payload binary").localCheckpoint()

    src = scratch.landing
    kept_dir, quar_dir = scratch.path("kept"), scratch.path("quarantined")
    _land_two_batches(blobs.filter(F.col("doc_id") % 2 == 0),
                      blobs.filter(F.col("doc_id") % 2 == 1), src)

    stream = (spark.readStream.schema(blobs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    drain(stream.writeStream
          .foreachBatch(media_triage_gate(kept_dir, quar_dir))
          .option("checkpointLocation", scratch.checkpoint), spark, src)

    kept = spark.read.parquet(kept_dir)
    quar = spark.read.parquet(quar_dir)
    streamed = kept.unionByName(quar)

    # batch-mode replay check: run the SAME gate body once over all blobs
    rk, rq = scratch.path("replay_kept"), scratch.path("replay_quarantined")
    media_triage_gate(rk, rq)(blobs, 0)
    replay = spark.read.parquet(rk).unionByName(spark.read.parquet(rq))
    a = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in replay.collect()}
    if a != b:
        raise RuntimeError(
            f"streamed media triage diverged from batch replay: "
            f"{len(a ^ b)} differing rows")
    return streamed.select("doc_id", "status", "media_format", "reason")


@scratch_query
def stream_hll_cardinality(spark: SparkSession, sf_dir: str,
                           scratch: Scratch) -> DataFrame:
    """STREAMING distinct-token cardinality via explicit HyperLogLog
    registers merged across micro-batches — VALUE-PAIRED because HLL
    registers are a lattice (max-merge is associative/commutative/
    idempotent): registers folded per batch into a persisted store are
    BIT-IDENTICAL to one batch pass over the whole corpus, so the
    streaming estimate equals the batch oracle exactly.

    foreachBatch computes the batch's (lang, bucket, rho) registers and
    max-merges them into a parquet store (O(langs · 2^p) longs — the
    per-shard sketch state a 100 TB ingest keeps instead of a distinct
    set); the final estimate reads the merged store. Portable md5 hash
    → the DuckDB oracle rebuilds the registers from the full corpus."""
    from dbt_spark.functions.sketches import hll_registers

    docs = read_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "lang", "text")

    def registers(batch_df: DataFrame) -> DataFrame:
        # a micro-batch scans ONE landing file = one input split: spread
        # the per-token md5 map work across cores before the explode
        # (stream_conf's 4 shuffle partitions only govern the aggregate)
        batch_df = batch_df.repartition(
            batch_df.sparkSession.sparkContext.defaultParallelism)
        toks = batch_df.select(
            "lang",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
        )
        h60 = F.conv(
            F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
        regs = hll_registers(toks, p=12, group_cols=["lang"],
                             hash_col=h60, hash_bits=60)
        return regs.select(
            F.col("lang"), F.col("bucket").cast("long"),
            F.col("rho").cast("int"),
        )

    # state stays bounded at langs x 2^p registers regardless
    regs = _fold_stream(
        spark, scratch, docs, "doc_id", registers,
        lambda u: u.groupBy("lang", "bucket").agg(F.max("rho").alias("rho")))
    m = 4096
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("v_obs"),
        F.sum(
            F.pow(F.lit(2.0), (F.lit(52) - F.col("rho")).cast("double"))
            .cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("s_int"),
    )
    z = (
        agg["s_int"].cast("double") / F.lit(float(1 << 52))
        + (F.lit(m) - F.col("v_obs")).cast("double")
    )
    e_raw = F.lit(alpha * m * m) / z
    v0 = (F.lit(m) - F.col("v_obs")).cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (v0 > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v0),
    ).otherwise(e_raw)
    return agg.select(
        "lang",
        F.col("v_obs").cast("bigint").alias("v_obs"),
        F.round(est, 6).alias("hll_estimate_r6"),
    ).orderBy("lang")


# the streaming scrub's oracle embeds the SAME chained-redaction SQL the
# batch twin uses (hygiene._REDACT_SQL) — substituted here because the
# regex patterns contain literal braces that an f-string would mangle
from dbt_spark.queries.hygiene import _REDACT_SQL as _PII_REDACT_SQL  # noqa: E402

ORACLES["stream_pii_scrub"] = ORACLES["stream_pii_scrub"].replace(
    "{REDACT}", _PII_REDACT_SQL)

from dbt_spark.queries.sft import _TURNS_CTE as _SFT_TURNS_CTE  # noqa: E402

@scratch_query
def stream_kmv_cardinality(spark: SparkSession, sf_dir: str,
                           scratch: Scratch) -> DataFrame:
    """STREAMING per-source distinct-3-gram cardinality via bottom-k
    (KMV/theta) sketches merged across micro-batches — VALUE-PAIRED
    because bottom-k merge is a lattice operation (the k smallest of a
    union is batching-independent): the sketch folded per batch into a
    persisted store is IDENTICAL to one batch pass, so the streaming
    estimate equals the batch oracle bit-for-bit. The KMV sibling of
    stream_hll_cardinality, carrying the set-operation-capable sketch
    (see queries/curation.py::kmv_theta_set_ops) through ingest.

    foreachBatch computes the batch's per-source bottom-k of portable
    60-bit gram hashes and merges it into a parquet store (k longs per
    source — bounded state), re-truncating to k each fold; the final
    estimate reads the merged store, with the exact distinct count
    alongside as the validation twin."""
    from dbt_spark.queries.curation import _KMV_K

    docs = read_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "source", "text")

    def _gram_hashes(df: DataFrame) -> DataFrame:
        toks = F.split(F.trim(F.lower("text")), r"\s+")
        return (
            df.select("source", toks.alias("t"))
            .filter(F.size("t") >= 3)
            .select(
                "source",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("t") - 3),
                        lambda i: F.concat_ws(
                            " ", F.element_at("t", i + 1),
                            F.element_at("t", i + 2),
                            F.element_at("t", i + 3)),
                    )
                ).alias("g"),
            )
            .select(
                "source",
                F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
                .cast("bigint").alias("h"),
            )
            .distinct()
        )

    def _bottom_k(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy("source").orderBy("h")
        return (df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= _KMV_K).select("source", "h"))

    def sketch(batch_df: DataFrame) -> DataFrame:
        # one landing file = one input split: spread the gram explode +
        # md5 map work across cores (the shuffle after it stays at the
        # stream_conf partition count)
        batch_df = batch_df.repartition(
            batch_df.sparkSession.sparkContext.defaultParallelism)
        return _bottom_k(_gram_hashes(batch_df))

    kmv = _fold_stream(spark, scratch, docs, "doc_id", sketch,
                       lambda u: _bottom_k(u.distinct()))
    sk = kmv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kmv"),
        F.max("h").alias("h_k"),
    )
    est = F.when(
        F.col("n_kmv") < _KMV_K, F.col("n_kmv").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(float(1 << 60))
                / F.col("h_k").cast("double"))
    exact = _gram_hashes(docs).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct"))
    return (
        sk.join(exact, "source")
        .select(
            "source", "exact_distinct",
            F.round(est, 6).alias("kmv_estimate_r6"),
            F.round((est - F.col("exact_distinct"))
                    / F.col("exact_distinct").cast("double"), 6)
            .alias("rel_err_r6"),
        )
        .orderBy("source")
    )


@scratch_query
def stream_prompt_decontam(spark: SparkSession, sf_dir: str,
                           scratch: Scratch) -> DataFrame:
    """STREAMING prompt decontamination — the streaming twin of
    queries/sft.py::prompt_decontam_ngram: train user turns land in two
    micro-batch file drops and each batch is gated against the STATIC
    benchmark-gram set (stream-static broadcast semi-join inside
    foreachBatch — the production shape for decontaminating a live crawl
    against a fixed eval suite). A stateful ``dropDuplicates(doc_id)``
    in front suppresses re-crawled prompts: the second drop deliberately
    RE-SENDS a slice of the first, and the value pairing with the batch
    oracle only holds if the checkpointed state swallowed the repeats.

    VALUE-PAIRED: each turn is one row, so its containment report is
    complete within its batch — arrival order cannot change the output
    set, and the oracle is the SAME SQL as the batch twin.

    Scale: dedup state is one 8-byte key per distinct prompt (watermark
    + event-time bounds it on an unbounded stream —
    stream_dedup_watermark covers that shape); the gram gate is
    stateless per batch, benchmark side broadcast."""
    from dbt_spark.queries.sft import (
        _BENCH_MOD,
        _decontam_report,
        _turns,
        _user_turn_gram_hashes,
    )

    turns = _turns(spark, sf_dir).filter(F.col("role") == "user")
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    # benchmark grams are static reference data: computed once, batch-side
    bench = (
        _user_turn_gram_hashes(turns.filter(is_bench)).select("h").distinct()
    )
    train = turns.filter(~is_bench).select("conv_id", "doc_id", "content")
    mid = train.agg(F.max("doc_id")).collect()[0][0] // 2  # harness split
    src = scratch.landing

    def gate(batch_df: DataFrame, _batch_id: int) -> None:
        report = _decontam_report(_user_turn_gram_hashes(batch_df), bench)
        report.write.mode("append").parquet(scratch.output)

    def run_once() -> None:
        stream = (
            spark.readStream.schema(train.schema).parquet(src)
            .dropDuplicates(["doc_id"])
        )
        drain(stream.writeStream.foreachBatch(gate)
              .option("checkpointLocation", scratch.checkpoint), spark, src)

    first = train.filter(F.col("doc_id") <= mid)
    first.coalesce(1).write.mode("append").parquet(src)
    run_once()
    # second drop: the rest PLUS a re-send of half of drop 1 — the
    # repeats must be swallowed by the checkpointed dedup state
    (train.filter(F.col("doc_id") > mid)
     .unionByName(first.filter(F.col("doc_id") <= mid // 2))
     .coalesce(1).write.mode("append").parquet(src))
    run_once()

    # a plain read: this per-call dir would only grow read_parquet's cache
    return spark.read.parquet(scratch.output).orderBy("conv_id", "doc_id")


from dbt_spark.queries.sft import (  # noqa: E402
    ORACLES as _SFT_ORACLES,
)

ORACLES["stream_prompt_decontam"] = _SFT_ORACLES["prompt_decontam_ngram"]

from dbt_spark.queries.curation import _KMV_K as _KMVK  # noqa: E402

ORACLES["stream_kmv_cardinality"] = f"""
    WITH toks AS (
        SELECT source,
               string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), grams AS (
        SELECT DISTINCT source,
               CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
        FROM toks, UNNEST(list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(g)
        WHERE len(t) >= 3
    ), kmv AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM grams) WHERE rn <= {_KMVK}
    ), sk AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_kmv, max(h) AS h_k
        FROM kmv GROUP BY 1
    ), exact AS (
        SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct
        FROM grams GROUP BY 1
    )
    SELECT s.source, e.exact_distinct,
           round(CASE WHEN s.n_kmv < {_KMVK} THEN CAST(s.n_kmv AS DOUBLE)
                      ELSE {_KMVK - 1}.0 * {float(1 << 60):.1f}
                           / CAST(s.h_k AS DOUBLE) END, 6)
               AS kmv_estimate_r6,
           round((CASE WHEN s.n_kmv < {_KMVK} THEN CAST(s.n_kmv AS DOUBLE)
                       ELSE {_KMVK - 1}.0 * {float(1 << 60):.1f}
                            / CAST(s.h_k AS DOUBLE) END
                  - e.exact_distinct)
                 / CAST(e.exact_distinct AS DOUBLE), 6) AS rel_err_r6
    FROM sk s JOIN exact e ON s.source = e.source
    ORDER BY s.source
"""

ORACLES["stream_turn_dedup"] = f"""
    WITH {_SFT_TURNS_CTE}, norms AS (
        SELECT conv_id,
               lower(trim(regexp_replace(content, '\\s+', ' ', 'g'))) AS norm
        FROM turns
    ), uniq AS (
        SELECT conv_id, norm FROM norms GROUP BY 1, 2
    ), per_conv AS (
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_unique,
               md5(string_agg(md5(norm), ',' ORDER BY md5(norm)))
                   AS norms_md5
        FROM uniq GROUP BY conv_id
    ), totals AS (
        SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
        FROM norms GROUP BY conv_id
    )
    SELECT t.conv_id, t.n_turns, p.n_unique,
           CAST(t.n_turns - p.n_unique AS BIGINT) AS n_dropped,
           p.norms_md5
    FROM totals t JOIN per_conv p ON t.conv_id = p.conv_id
    ORDER BY t.conv_id
"""

@scratch_query
def stream_pair_phash_dedup(spark: SparkSession, sf_dir: str,
                            scratch: Scratch) -> DataFrame:
    """STREAMING image-ingest dedup — the streaming twin of
    queries/llmops.py::multimodal_pair_dedup's IMAGE gate: image blobs
    land in two micro-batch file drops, each batch REAL-decodes its
    PNG/BMP payloads into the 16-bit perceptual phash inside the stream
    (mapInPandas over Arrow batches — blobs never leave the task), and a
    STATEFUL ``dropDuplicates(phash)`` suppresses every re-hosted copy,
    including copies arriving in a LATER batch (checkpointed state store
    — the cross-batch suppression is what the second drop proves; the
    fixture's doc_id % _PAIR_IMG_MOD image groups straddle the split).

    Pairing is arrival-order-independent by construction: WHICH copy of
    an image survives depends on arrival order, but the distinct-phash
    SET does not — so outputs are set-level per phash bucket: unique
    image count + an md5 fold over the sorted phashes. Oracle: the
    closed-form phash CTE (shared with the batch pair-dedup oracle)
    reduced relationally.

    Scale: dedup state is ONE 8-byte key per distinct image hash —
    corpus-size-independent for a deduplicated corpus; an unbounded
    production stream adds withWatermark + event-time scoping
    (stream_dedup_watermark covers that shape)."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                perceptual_phash)
    from dbt_spark.queries.llmops import _pair_blob_gen

    codecs = _make_pixel_codecs()
    # _docs_raw: the one-row-group scan would otherwise run the whole
    # Python encode chain on ONE core; the pin computes it once for the
    # two landing drops (coalesce(1) then only re-reads pinned blocks)
    from dbt_spark.queries.llmops import _docs_raw

    docs = _docs_raw(spark, sf_dir).select("doc_id")
    # EAGER pin: the first consumer is a coalesce(1) single-file write —
    # a lazy checkpoint would materialize (i.e. run the whole encode)
    # inside that one task; eager materializes it as a parallel job
    blobs = docs.mapInPandas(
        _pair_blob_gen((codecs[0], codecs[2])),
        schema="doc_id long, payload binary").localCheckpoint()
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2  # harness split
    src = scratch.landing

    def run_once() -> None:
        stream = spark.readStream.schema(blobs.schema).parquet(src)
        hashed = perceptual_phash(stream).select("doc_id", "phash")
        drain(hashed.dropDuplicates(["phash"])
              .writeStream.format("parquet")
              .option("path", scratch.output)
              .option("checkpointLocation", scratch.checkpoint)
              .outputMode("append"), spark, src)

    blobs.filter(F.col("doc_id") <= mid).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()
    blobs.filter(F.col("doc_id") > mid).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()

    kept = spark.read.parquet(scratch.output)
    return (
        kept.groupBy((F.col("phash") % 8).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_unique_images"),
            F.md5(F.array_join(
                F.array_sort(F.collect_list(F.col("phash").cast("string"))),
                ",")).alias("phashes_md5"),
        )
        .orderBy("bucket")
    )


def _pair_phash_oracle() -> str:
    from dbt_spark.queries.llmops import _PAIR_PHASH_CTE

    return f"""
    WITH {_PAIR_PHASH_CTE}, uniq AS (
        SELECT DISTINCT phash FROM ph
    )
    SELECT CAST(phash % 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_unique_images,
           md5(string_agg(CAST(phash AS VARCHAR), ','
                          ORDER BY CAST(phash AS VARCHAR))) AS phashes_md5
    FROM uniq GROUP BY 1 ORDER BY 1
"""


ORACLES["stream_pair_phash_dedup"] = _pair_phash_oracle()


@scratch_query
def stream_mixture_reweight(spark: SparkSession, sf_dir: str,
                            scratch: Scratch) -> DataFrame:
    """STREAMING domain-mixture reweighting — the streaming twin of
    queries/llmops.py::domain_mixture_reweight. The corpus-touching stage
    is a per-source (n_docs, toks, letters) aggregate whose partials are
    ADDITIVE bigint sums, so folding each micro-batch's partials into a
    persisted store (union + sum-merge — a lattice operation) yields
    exactly the full-scan frame regardless of batching; the three pinned
    multiplicative-weights rounds then run ONCE on the merged
    source-cardinality frame. VALUE-PAIRED against the same unrolled-CTE
    oracle as the batch query.

    This is the production shape for mixture optimization over a live
    ingest: state is source-cardinality-sized (three longs per source),
    never corpus-sized, and the optimization never rescans history."""
    from dbt_spark.queries.llmops import (mixture_partials,
                                          mixture_weights_from_partials)

    docs = read_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "source", "text")
    return mixture_weights_from_partials(_fold_stream(
        spark, scratch, docs, "doc_id", mixture_partials,
        lambda u: u.groupBy("source").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("toks"),
            F.sum("letters").cast("bigint").alias("letters"),
        )))


@scratch_query
def stream_bt_strength(spark: SparkSession, sf_dir: str,
                       scratch: Scratch) -> DataFrame:
    """STREAMING Bradley-Terry strength fitting — the streaming twin of
    queries/curation.py::bt_preference_strength. Per-(user, event_type)
    DECIMAL engagement sums are additive, so each micro-batch's partials
    sum-merge into a persisted store (exact decimal lattice fold); the
    contest derivation and pinned MM rounds run ONCE on the merged
    frame. VALUE-PAIRED against the same unrolled-CTE oracle as the
    batch query — decimal exactness makes the fold batching-independent.

    State is one decimal per active (user, type) key — the standard
    streaming-aggregation state shape, never event-volume-sized; the
    winrate fit itself never rescans history."""
    from dbt_spark.queries.curation import (bt_engagement_partials,
                                            bt_strength_from_partials)

    ev = read_parquet(
        spark, os.path.join(sf_dir, "events.parquet")
    ).select("event_id", "user_id", "event_type", "value")
    return bt_strength_from_partials(_fold_stream(
        spark, scratch, ev, "event_id", bt_engagement_partials,
        lambda u: u.groupBy("user_id", "event_type").agg(
            F.sum("s").alias("s"))))


@scratch_query
def stream_rollup_cascade(spark: SparkSession, sf_dir: str,
                          scratch: Scratch) -> DataFrame:
    """STREAMING continuous aggregate — the streaming twin of
    queries/curation.py::timeseries_rollup_cascade and the literal
    production form of the pattern: MINUTE-level decimal partials fold
    additively across micro-batches into a persisted store (count +
    DECIMAL sum per (event_type, minute) — a lattice merge, so the store
    equals the full-scan minute table for ANY batching), and the
    hour→day cascade re-aggregates the store once at read time. The
    day-vs-direct exactness proof reruns against the static table (the
    audit twin). VALUE-PAIRED with the batch oracle.

    State is one (count, decimal) pair per active (event_type, minute)
    key — the continuous-aggregate state shape; coarse resolutions never
    touch raw history."""
    ev_raw = read_parquet(
        spark, os.path.join(sf_dir, "events.parquet")
    ).select("event_id", "event_type", "ts", "value")

    def _minute(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("m")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round("value", 3).cast("decimal(15,3)")).alias("s"),
        )

    minute = _fold_stream(
        spark, scratch, ev_raw, "event_id", _minute,
        lambda u: u.groupBy("event_type", "m").agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s").alias("s"),
        ))
    hour = minute.groupBy(
        "event_type", F.date_trunc("hour", "m").alias("h")
    ).agg(F.sum("n").cast("bigint").alias("n"), F.sum("s").alias("s"))
    day = hour.groupBy(
        "event_type", F.date_trunc("day", "h").alias("d")
    ).agg(F.sum("n").cast("bigint").alias("n"), F.sum("s").alias("s"))
    direct = ev_raw.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_direct"),
          F.sum(F.round("value", 3).cast("decimal(15,3)"))
          .alias("s_direct"))
    return (
        day.join(direct, ["event_type", "d"])
        .select(
            "event_type",
            F.col("d").cast("timestamp").alias("day"),
            F.col("n").alias("n_events"),
            F.round(F.col("s").cast("double"), 3).alias("sum_value_r3"),
            ((F.col("n") == F.col("n_direct"))
             & (F.col("s") == F.col("s_direct"))).cast("int")
            .alias("cascade_exact"),
        )
        .orderBy("event_type", "day")
    )


from dbt_spark.queries.llmops import ORACLES as _LLM_ORACLES  # noqa: E402
from dbt_spark.queries.curation import ORACLES as _CUR_ORACLES  # noqa: E402

ORACLES["stream_mixture_reweight"] = _LLM_ORACLES["domain_mixture_reweight"]
ORACLES["stream_bt_strength"] = _CUR_ORACLES["bt_preference_strength"]
ORACLES["stream_rollup_cascade"] = _CUR_ORACLES["timeseries_rollup_cascade"]

QUERIES = {
    "stream_mixture_reweight": stream_mixture_reweight,
    "stream_bt_strength": stream_bt_strength,
    "stream_rollup_cascade": stream_rollup_cascade,
    "stream_pii_scrub": stream_pii_scrub,
    "stream_turn_dedup": stream_turn_dedup,
    "stream_pair_phash_dedup": stream_pair_phash_dedup,
    "stream_prompt_decontam": stream_prompt_decontam,
    "stream_kmv_cardinality": stream_kmv_cardinality,
    "stream_hll_cardinality": stream_hll_cardinality,
    "streaming_ingest_checkpoint": streaming_ingest_checkpoint,
    "stream_heavy_hitters": stream_heavy_hitters,
    "stream_dedup_watermark": stream_dedup_watermark,
    "stream_static_join": stream_static_join,
    "stream_foreachbatch_upsert": stream_foreachbatch_upsert,
    "stream_neardup_ingest": stream_neardup_ingest,
    "stream_media_triage": stream_media_triage,
    "stream_foreachbatch_upsert_acid": stream_foreachbatch_upsert_acid,
    "stream_stream_interval_join": stream_stream_interval_join,
    "session_window_agg": session_window_agg_q,
    "tumbling_window_agg": tumbling_window_agg,
    "hopping_window_agg": hopping_window_agg,
}
