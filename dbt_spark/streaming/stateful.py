"""Custom stateful streaming operators (SURVEY §2F Spark-upgrade path).

Two tiers, per the build guidance:
1. ``session_window`` — Spark's built-in session windows (preferred: pure
   Catalyst, codegen'd, watermark-aware).
2. ``sessionize_stateful`` — ``applyInPandasWithState`` for semantics the
   built-ins can't express (custom gap logic, per-session running payloads).
   Arrow-batched; state is per-group and spill-managed by Spark.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import TimestampNTZType

from dbt_spark.session import pin


def _watermarkable(df: DataFrame, ts_col: str) -> DataFrame:
    """Spark watermarks require TIMESTAMP (with local-tz semantics); parquet
    written with NTZ timestamps otherwise fails EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.
    With the session timezone pinned to UTC the cast is value-preserving."""
    field = next((f for f in df.schema.fields if f.name == ts_col), None)
    if field is not None and isinstance(field.dataType, TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def session_window_agg(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Events → per-user sessions via the built-in session_window.

    Works identically on batch and streaming DataFrames; on streaming the
    watermark bounds state. Columns: user, session_start, session_end,
    n_events, total_value."""
    if df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start", LongType()),
        StructField("last_seen", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("status", StringType()),
    ]
)


def _sessionize_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_seconds: int = 1800,
) -> Iterable[pd.DataFrame]:
    """Per-user session accumulator: emits a row per CLOSED session; the open
    session stays in checkpointed state across micro-batches/runs (no
    processing-time timeout — with trigger=availableNow a timeout would keep
    the drained query alive forever). State: (session_start, last_seen, n,
    total)."""
    (user_id,) = key
    rows = pd.concat(list(pdfs)).sort_values("ts")
    if state.exists:
        start, last, n, total = state.get
    else:
        start, last, n, total = None, None, 0, 0.0

    out = []
    for _, r in rows.iterrows():
        t = int(pd.Timestamp(r["ts"]).timestamp())
        if start is None:
            start, last, n, total = t, t, 1, float(r["value"])
        elif t - last > gap_seconds:
            out.append((start, last, n, total, "closed"))
            start, last, n, total = t, t, 1, float(r["value"])
        else:
            last, n, total = t, n + 1, total + float(r["value"])
    state.update((start, last, n, total))
    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [pd.Timestamp(s, unit="s") for s, *_ in out],
                "session_end": [pd.Timestamp(e, unit="s") for _, e, *_ in out],
                "n_events": [n_ for *_, n_, __, ___ in out],
                "total_value": [t_ for *_, t_, __ in out],
                "status": [st for *_, st in out],
            }
        )


MG_OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("token", StringType()),
        StructField("mg_count", LongType()),
    ]
)

MG_STATE_SCHEMA = StructType(
    [
        StructField("ks", ArrayType(StringType())),
        StructField("vs", ArrayType(LongType())),
    ]
)


def _mg_group(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState,
              k: int) -> Iterable[pd.DataFrame]:
    """Per-group CROSS-BATCH Misra-Gries summary (functions/sketches.py has
    the batch twin): counters persist in checkpointed state, so the group's
    whole stream flows through ONE k-counter summary regardless of how it
    is micro-batched — the heavy-hitter superset guarantee holds over the
    full stream, not per batch. Emits the summary after every batch; any
    emitted superset feeds the exact verify pass, so candidates from
    earlier batches are harmless."""
    from dbt_spark.functions.sketches import mg_merge_histogram

    (group,) = key
    if state.exists:
        ks, vs = state.get
        counters = dict(zip(list(ks), list(vs)))
    else:
        counters = {}
    for pdf in pdfs:
        # vectorized common case: one value_counts per batch, weighted
        # MG merge per distinct item (functions/sketches.py has the proof)
        mg_merge_histogram(counters, pdf["token"].value_counts(dropna=False), k)
    state.update((list(counters.keys()), [int(v) for v in counters.values()]))
    yield pd.DataFrame(
        {
            "source": [group] * len(counters),
            "token": list(counters.keys()),
            "mg_count": [int(v) for v in counters.values()],
        }
    )


def mg_heavy_hitters_stream(df: DataFrame, k: int) -> DataFrame:
    """applyInPandasWithState per-source Misra-Gries candidates over a
    token stream with columns (source, token)."""
    return df.groupBy("source").applyInPandasWithState(
        lambda key, pdfs, state: _mg_group(key, pdfs, state, k),
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    event_time: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup bounded by a watermark: state for a key is
    dropped once the watermark passes, so memory is bounded by the late-data
    horizon instead of the full stream history (the 100 TB-stream analog of
    exact dedup; Spark's dropDuplicatesWithinWatermark).

    Falls back to plain dropDuplicates for batch DataFrames so the same model
    code runs in either mode."""
    if not df.isStreaming:
        return df.dropDuplicates(keys)
    return (
        _watermarkable(df, event_time)
        .withWatermark(event_time, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def sessionize_stateful(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """applyInPandasWithState sessionization over a streaming events frame
    with columns (user_id, ts, value). Emits sessions as they close; open
    sessions persist in checkpointed state across runs."""
    return df.groupBy("user_id").applyInPandasWithState(
        lambda key, pdfs, state: _sessionize_group(key, pdfs, state, gap_seconds),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 stateful-processor API)
# --------------------------------------------------------------------------

TOTALS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


class RunningTotalsProcessor:
    """StatefulProcessor: per-key running (count, sum) in ValueState.

    The Spark 4 ``transformWithStateInPandas`` API — typed state handles
    (ValueState here; ListState/MapState/timers available), Arrow-batched
    input, state persisted in the RocksDB state store across micro-batches
    AND across restarts via the checkpoint. The modern replacement for
    applyInPandasWithState; both are kept (SURVEY §2F upgrade path).

    NOTE: the Python worker side of this API needs protobuf, absent in this
    container — the e2e test is @skipif-gated on it; applyInPandasWithState
    (sessionize_stateful, above) is the fully-exercised stateful path here."""

    def init(self, handle) -> None:  # StatefulProcessorHandle
        self._state = handle.getValueState(
            "totals",
            StructType(
                [StructField("n", LongType()), StructField("total", DoubleType())]
            ),
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterable[pd.DataFrame]:
        n, total = 0, 0.0
        if self._state.exists():
            prev = self._state.get()
            n, total = int(prev[0]), float(prev[1])
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [int(key[0])], "n_events": [n], "total_value": [total]}
        )

    def close(self) -> None:
        pass


def running_totals_tws(df: DataFrame) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas. Streaming
    input required; the caller supplies the checkpoint via writeStream."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # subclass dynamically so the module imports even if the API moves
    proc = type("_P", (StatefulProcessor,), dict(RunningTotalsProcessor.__dict__))()
    return df.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=TOTALS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def minhash_ingest_gate(out_dir: str, sig_dir: str, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.5,
                        num_perm: int = 16, bands: int = 8,
                        shingle_n: int = 2):
    """foreachBatch sink factory: CROSS-BATCH streaming near-duplicate
    ingestion gate — the continuous form of corpus dedup, where documents
    arriving in every micro-batch are deduplicated against everything ever
    kept, without re-reading history text.

    Per micro-batch: (1) within-batch near-dup dedup (verified Jaccard ≥
    threshold, min-id survivor — functions/dedup.py:minhash_dedup);
    (2) cross-batch gate: drop survivors sharing ANY MinHash-LSH
    (band, bucket) with the persisted signature store (candidate-level
    semantics, exactly decontam_neardup_lsh's — recall is set by the
    banding, num_perm/bands); (3) append kept docs to ``out_dir`` and
    their band rows to ``sig_dir``.

    Scale: history is stored as DISTINCT LSH bucket keys of kept docs —
    O(bands) longs per document, never text — so the gate is one keyed
    LEFT SEMI/ANTI join per batch against a compact, append-only store; at
    100 TB the store hash-partitions by (band, bh) and each batch's probe
    touches only matching partitions. Writes are per-batch atomic in the
    streaming sink's append contract (exactly-once via the checkpoint +
    deterministic batch contents)."""
    from dbt_spark.functions.dedup import _banded_signatures, minhash_dedup

    def sink(df: DataFrame, batch_id: int) -> None:
        import os

        from pyspark.sql import functions as SF

        spark = df.sparkSession
        kept = minhash_dedup(df, text_col, id_col, threshold=threshold,
                             num_perm=num_perm, bands=bands)
        sigs = _banded_signatures(kept, text_col, id_col, num_perm, bands,
                                  shingle_n)
        if os.path.exists(sig_dir):
            seen = spark.read.parquet(sig_dir).select("band", "bh")
            dup_ids = (sigs.join(seen, ["band", "bh"], "left_semi")
                       .select("id").distinct())
            kept = kept.join(
                dup_ids.withColumnRenamed("id", id_col), id_col, "left_anti")
            sigs = sigs.join(dup_ids, "id", "left_anti")
        # cache: kept/sigs share lineage; two actions below
        kept = pin(kept)
        kept.write.mode("append").parquet(out_dir)
        (sigs.join(kept.select(SF.col(id_col).alias("id")), "id", "left_semi")
         .write.mode("append").parquet(sig_dir))

    return sink


def media_triage_gate(kept_dir: str, quarantine_dir: str):
    """foreachBatch sink factory: REAL header-parse triage of media blobs
    at ingest — the binary-level analog of PERMISSIVE JSONL quarantine.
    Every arriving blob is probed with the pure-bytes container parsers
    (PNG/JPEG/GIF/BMP dimensions, RIFF/WAVE fmt walk): parseable blobs
    with sane metadata (positive dims ≤ 16384, sample rate ≤ 768 kHz)
    append to ``kept_dir`` WITH their parsed metadata columns; everything
    else appends to ``quarantine_dir`` with a NAMED reason
    (unknown_container | bad_dims | bad_rate) — corrupt uploads never
    poison the corpus and never kill the batch.

    Scale: stateless per blob — one Arrow-batched mapInPandas pass per
    micro-batch, no shuffle, no driver involvement; the two appends ride
    the streaming sink's per-batch exactly-once contract."""
    from dbt_spark.functions.multimodal import _make_header_parsers

    parsers = _make_header_parsers()

    def sink(df, batch_id: int) -> None:
        parse_img, parse_wav = parsers

        def batches(it):
            import pandas as _pd

            for pdf in it:
                out = {"doc_id": [], "status": [], "media_format": [],
                       "width": [], "height": [], "sample_rate": [],
                       "reason": []}

                def emit(did, status, fmt=None, w=None, h=None, sr=None,
                         reason=None):
                    out["doc_id"].append(int(did))
                    out["status"].append(status)
                    out["media_format"].append(fmt)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sample_rate"].append(sr)
                    out["reason"].append(reason)

                for did, blob in zip(pdf["doc_id"], pdf["payload"]):
                    b = bytes(blob)
                    img = parse_img(b)
                    if img is not None:
                        fmt, w, h = img
                        if 0 < w <= 16384 and 0 < h <= 16384:
                            emit(did, "kept", fmt, w, h)
                        else:
                            emit(did, "quarantined", fmt, w, h,
                                 reason="bad_dims")
                        continue
                    wav = parse_wav(b)
                    if wav is not None:
                        ch, sr, bits, _data = wav
                        if 0 < sr <= 768000 and ch > 0:
                            emit(did, "kept", "wav", sr=sr)
                        else:
                            emit(did, "quarantined", "wav", sr=sr,
                                 reason="bad_rate")
                        continue
                    emit(did, "quarantined", reason="unknown_container")
                yield _pd.DataFrame(out)

        triaged = df.mapInPandas(
            batches,
            schema="doc_id long, status string, media_format string, "
                   "width long, height long, sample_rate long, "
                   "reason string")
        from pyspark.sql import functions as SF

        triaged.filter(SF.col("status") == "kept").write.mode(
            "append").parquet(kept_dir)
        triaged.filter(SF.col("status") == "quarantined").write.mode(
            "append").parquet(quarantine_dir)

    return sink
