"""Structured Streaming materialization: the scale-out upgrade path for
microbatch (SURVEY §2F).

The reference's microbatch is batched backfill over an event-time grid
(core/dbt/materializations/incremental/microbatch.py:12-223) — re-implemented
batch-exact in operators/microbatch.py. This module adds what the reference
CANNOT do: continuous checkpointed ingestion where Spark itself tracks the
processed offsets, so re-running a model reads ONLY new files/rows — no
lookback reprocessing, no wall-clock grid.

``materialized: streaming_table`` semantics:
- every ``source()`` in the model resolves to a ``readStream`` over the
  source location (schema inferred from a static read of the same path);
- the model's SELECT runs as a streaming query;
- ``trigger=availableNow`` drains everything pending then stops — giving
  batch-job ergonomics (the dbt run lifecycle) with streaming bookkeeping
  (exactly-once via checkpoint), the recommended pattern for incremental
  ingestion jobs on Spark 3.3+;
- stateless plans append to the target; aggregating plans (or configs with
  ``unique_key``) run ``foreachBatch`` + merge-upsert per micro-batch.

Config surface (all under the model's config/meta):
- ``watermark: {column: ts, delay: "10 minutes"}`` — late-data bound for
  streaming aggregations (the principled version of the reference's
  ``lookback`` reprocessing).
- ``stream_strategy: append | merge`` (default: auto — merge when the plan
  aggregates or unique_key is set).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from dbt_spark.catalog import Relation
from dbt_spark.operators.incremental import merge_upsert
from dbt_spark.operators.materialize import ExecutionContext, compile_sql
from dbt_spark.plans.manifest import ManifestNode, NodeType
from dbt_spark.session import stream_conf


class StreamingError(Exception):
    pass


def _streaming_source_df(ctx: ExecutionContext, node: ManifestNode) -> DataFrame:
    """readStream over the source location; schema from a static read (file
    streams require an explicit schema)."""
    location = node.config.meta.get("location")
    if location is None:
        raise StreamingError(f"source {node.unique_id} has no meta.location")
    fmt = node.config.meta.get("file_format", "parquet")
    static = getattr(ctx.spark.read, fmt)(location)
    reader = ctx.spark.readStream.schema(static.schema)
    # maxFilesPerTrigger bounds per-micro-batch work at scale (backpressure)
    max_files = node.config.meta.get("max_files_per_trigger")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", int(max_files))
    return getattr(reader, fmt)(location)


def drain(writer: DataStreamWriter, spark: SparkSession, *source_dirs: str) -> None:
    """Run a configured stream writer to completion: ``availableNow``
    processes every file pending in the stream's sources, then stops. The
    start runs under ``stream_conf`` (sized from ``source_dirs``), which
    freezes the stream's shuffle-partition count into its checkpoint.
    Every stream in the package starts here."""
    with stream_conf(spark, *source_dirs):
        writer.trigger(availableNow=True).start().awaitTermination()


def _checkpoint_dir(ctx: ExecutionContext, node: ManifestNode) -> str:
    return os.path.join(
        ctx.store.warehouse, "_checkpoints", ctx.schema_for(node), node.name
    )


def materialize_streaming(ctx: ExecutionContext, node: ManifestNode) -> Relation:
    """Compile the model with streaming sources, run to completion
    (availableNow), leave the checkpoint for the next run."""
    ctx.ensure_upstream_registered(node, direct_sources=False)

    registered: list[str] = []
    source_dirs: list[str] = []

    def resolve_source_streaming(src: ManifestNode) -> str:
        loc = src.config.meta.get("location")
        if loc:
            source_dirs.append(loc)
        ident = f"__stream__{src.source_name}__{src.name}"
        df = _streaming_source_df(ctx, src)
        wm = (node.config.meta.get("watermark") or {})
        if wm and wm.get("column") in df.columns:
            from dbt_spark.streaming.stateful import _watermarkable

            df = _watermarkable(df, wm["column"]).withWatermark(
                wm["column"], wm.get("delay", "10 minutes")
            )
        df.createOrReplaceTempView(ident)
        registered.append(ident)
        return ident

    sql = compile_sql_streaming(ctx, node, resolve_source_streaming)
    node.compiled_code = sql
    ctx.store.ensure_registered_for(sql)
    out = ctx.spark.sql(sql)
    if not out.isStreaming:
        raise StreamingError(
            f"{node.unique_id}: materialized=streaming_table but the plan is not "
            "streaming (does the model read at least one source()?)"
        )

    schema = ctx.schema_for(node)
    path = ctx.store.path_for(schema, ctx.name_for(node))
    checkpoint = _checkpoint_dir(ctx, node)
    strategy = node.config.meta.get("stream_strategy")
    if strategy is None:
        aggregating = bool(node.config.unique_key) or _plan_aggregates(out)
        strategy = "merge" if aggregating else "append"

    if strategy == "append":
        drain(
            out.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"),
            ctx.spark, *source_dirs,
        )
    elif strategy == "merge":
        keys = node.config.unique_key
        keys = [keys] if isinstance(keys, str) else list(keys or [])

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # keyed: upsert into the table. Aggregate restatement without
            # keys: complete refresh of the affected groups is the batch's
            # full content. The first batch creates the table.
            if ctx.store.exists(schema, ctx.name_for(node)) and keys:
                existing = ctx.store.read(schema, ctx.name_for(node))
                batch_df = merge_upsert(existing, batch_df, keys)
            ctx.store.write_table(schema, ctx.name_for(node), batch_df, kind="streaming")

        drain(
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .outputMode("update"),
            ctx.spark, *source_dirs,
        )
    else:
        raise StreamingError(f"{node.unique_id}: unknown stream_strategy {strategy!r}")

    for ident in registered:
        ctx.spark.catalog.dropTempView(ident)

    if strategy == "append":
        rel = Relation(schema=schema, name=ctx.name_for(node), kind="streaming", path=path)
        with ctx.store._lock:
            ctx.store.relations[ctx.store.key(schema, ctx.name_for(node))] = rel
            ctx.store._registered.discard(rel.identifier)
            ctx.store._save_state()
        ctx.store.register(rel)
        return rel
    return ctx.store.get(schema, ctx.name_for(node))


def compile_sql_streaming(
    ctx: ExecutionContext, node: ManifestNode, resolve_source_streaming
) -> str:
    """compile_sql but with source() resolving to streaming temp views."""
    import copy

    stream_ctx = copy.copy(ctx)
    stream_ctx.resolve_source = resolve_source_streaming  # type: ignore[method-assign]
    return compile_sql(stream_ctx, node)


def _plan_aggregates(df: DataFrame) -> bool:
    """Streaming aggregations can't append to a file sink without a watermark
    — detect Aggregate in the analyzed plan."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        return "Aggregate" in plan
    except Exception:  # noqa: BLE001
        return False
