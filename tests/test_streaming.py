"""Structured Streaming materialization + stateful operators.

Covers SURVEY §2F's Spark-upgrade path: checkpointed availableNow ingestion
(only-new-files incremental), watermarked streaming aggregation via
foreachBatch merge, built-in session windows, and applyInPandasWithState."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dbt_spark.runner import Engine
from dbt_spark.session import read_parquet

from tests.conftest import SF_DIR


def _write_events_slice(spark, src_dir, lo, hi):
    df = (
        read_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
        .filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
    )
    df.coalesce(1).write.mode("append").parquet(src_dir)
    return df.count()


@pytest.fixture()
def stream_project(project_dir, spark, tmp_path):
    src_dir = str(tmp_path / "landing")
    os.makedirs(src_dir, exist_ok=True)
    pdir = project_dir({
        "dbt_project.yml": "name: strm\n",
        "models/sources.yml": f"""
sources:
  - name: landing
    tables:
      - name: events
        meta: {{location: "{src_dir}"}}
""",
        "models/events_clean.sql": (
            "select event_id, user_id, ts, event_type, value "
            "from {{ source('landing','events') }} where value is not null"
        ),
        "models/events_by_type.sql": """
{{ config(materialized='streaming_table', unique_key='event_type') }}
select event_type, count(*) as n, cast(sum(value) as double) as total
from {{ source('landing','events') }}
group by event_type
""",
    })
    # events_clean is streaming too
    with open(os.path.join(pdir, "models", "events_clean.sql")) as f:
        body = f.read()
    with open(os.path.join(pdir, "models", "events_clean.sql"), "w") as f:
        f.write("{{ config(materialized='streaming_table') }}\n" + body)
    return pdir, src_dir


def test_streaming_append_processes_only_new_files(stream_project, spark):
    pdir, src_dir = stream_project
    n1 = _write_events_slice(spark, src_dir, 0, 500)
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["run", "--select", "events_clean"])
    assert r.success, [x.message for x in r.results]
    count1 = eng.store.read("main", "events_clean").count()
    assert count1 == n1

    # second batch lands; re-run ingests ONLY the new files (checkpoint)
    n2 = _write_events_slice(spark, src_dir, 500, 800)
    r = eng.invoke(["run", "--select", "events_clean"])
    assert r.success
    count2 = eng.store.read("main", "events_clean").count()
    assert count2 == n1 + n2

    # no new data → no change
    r = eng.invoke(["run", "--select", "events_clean"])
    assert r.success
    assert eng.store.read("main", "events_clean").count() == count2


def test_streaming_aggregate_merge(stream_project, spark):
    pdir, src_dir = stream_project
    _write_events_slice(spark, src_dir, 0, 1000)
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["run", "--select", "events_by_type"])
    assert r.success, [x.message for x in r.results]
    out = eng.store.read("main", "events_by_type")
    assert set(out.columns) == {"event_type", "n", "total"}
    batch = (
        spark.read.parquet(src_dir)
        .groupBy("event_type").count()
    )
    assert out.count() == batch.count()


def test_session_window_agg_batch_parity(spark):
    """session_window works identically on batch frames — verify against a
    hand-rolled windowed walk."""
    from dbt_spark.streaming.stateful import session_window_agg

    events = read_parquet(spark, os.path.join(SF_DIR, "events.parquet")).select(
        "user_id", "ts", "value"
    )
    sess = session_window_agg(events, "user_id", "ts", gap="30 minutes")
    assert set(sess.columns) == {
        "user_id", "session_start", "session_end", "n_events", "total_value"
    }
    # sessions partition the events: total events preserved
    assert sess.agg(F.sum("n_events")).collect()[0][0] == events.count()
    # each session's span respects the gap rule (end-start only grows by
    # chained events ≤30min apart); spot-check max session length sanity
    assert sess.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_sessionize_stateful_stream(spark, tmp_path):
    """applyInPandasWithState over a file stream with availableNow."""
    from dbt_spark.streaming.stateful import sessionize_stateful

    src = str(tmp_path / "sess_src")
    out_dir = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    events = (
        read_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
        .select("user_id", "ts", "value")
        .filter(F.col("user_id") < 50)
    )
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    sessions = sessionize_stateful(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert set(got.columns) == {
        "user_id", "session_start", "session_end", "n_events", "total_value", "status"
    }
    # closed sessions emitted during the run; the batch-side oracle: number of
    # closed sessions = sessions with a successor gap > 30min per user
    closed = got.filter(F.col("status") == "closed")
    assert closed.count() > 0
    # all closed sessions respect ordering
    assert closed.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a file stream: duplicate event_ids
    across micro-batches collapse to one row while state stays bounded by the
    watermark horizon."""
    from dbt_spark.streaming.stateful import streaming_dedup

    src = str(tmp_path / "dd_src")
    out_dir = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    events = (
        read_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
        .select("event_id", "user_id", "ts", "value")
        .filter(F.col("event_id") < 500)
    )
    # write the same slice TWICE (exact duplicates in separate files)
    events.coalesce(1).write.mode("append").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    deduped = streaming_dedup(stream, ["event_id"], event_time="ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    n = events.count()
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n
    # batch fallback path gives the same result
    batch = streaming_dedup(spark.read.parquet(src), ["event_id"])
    assert batch.count() == n


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: per-user running totals persist in
    RocksDB state across micro-batches AND across a second run from the same
    checkpoint (new files continue the totals, not restart them).

    WITHOUT google.protobuf (this container) the e2e path CANNOT run, and
    that is pinned here instead of skipping: pyspark's driver-side state
    worker (pyspark/sql/streaming/transform_with_state_driver_worker.py)
    speaks the StateMessage protocol to the JVM through generated
    ``proto/StateMessage_pb2.py``, whose import requires the google.protobuf
    runtime (descriptor_pool/builder/runtime_version) — verified:
    ``import pyspark.sql.streaming.proto.StateMessage_pb2`` raises
    ModuleNotFoundError('google') here, and the streaming query dies with
    'TransformWithStateInPySpark driver worker exited unexpectedly'.
    Vendoring a shim would mean reimplementing the protobuf reflection
    runtime under a stateful wire protocol — wrong risk/benefit (a subtle
    framing bug silently corrupts state), so absence is asserted as the
    documented failure mode; the applyInPandasWithState twin
    (test_apply_in_pandas_with_state_*) covers custom-stateful semantics
    e2e in this container."""
    import os

    from dbt_spark.session import read_parquet
    from dbt_spark.streaming.stateful import running_totals_tws, TOTALS_OUTPUT_SCHEMA

    landing = str(tmp_path / "landing")
    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    events = read_parquet(spark, "/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "value"
    )
    mid = events.agg({"event_id": "max"}).collect()[0][0] // 2
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        def run_once():
            stream = (
                spark.readStream.schema(events.schema).parquet(landing)
                .select("user_id", "value")
            )
            q = (
                running_totals_tws(stream)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", checkpoint)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        events.filter(events.event_id <= mid).write.mode("append").parquet(landing)
        if not _has_protobuf():
            # pin the documented failure mode + its root cause instead of
            # skipping: the state protocol's generated pb2 needs the
            # google.protobuf runtime, and the driver state worker dies
            with pytest.raises(ImportError, match="google"):
                import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
            from pyspark.errors import StreamingQueryException

            with pytest.raises(StreamingQueryException,
                               match="TransformWithStateInPySpark driver "
                                     "worker exited"):
                run_once()
            return
        run_once()
        events.filter(events.event_id > mid).write.mode("append").parquet(landing)
        run_once()

        # last emitted row per user == full batch aggregate
        out = spark.read.schema(TOTALS_OUTPUT_SCHEMA).parquet(out_dir)
        last = {
            r["user_id"]: r
            for r in out.orderBy("n_events").collect()  # later rows overwrite
        }
        expected = {
            r["user_id"]: r
            for r in events.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
            .collect()
        }
        assert set(last) == set(expected)
        for uid, exp in expected.items():
            assert last[uid]["n_events"] == exp["n"]
            assert abs(last[uid]["total_value"] - exp["t"]) < 1e-6
    finally:
        if prev_provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_minhash_ingest_gate_cross_batch(spark, tmp_path):
    """Cross-batch near-dup gate: batch 2's near-copy of a batch-1 doc is
    rejected by the persisted signature store; novel docs pass; the store
    holds bucket keys only for KEPT docs."""
    import os

    from dbt_spark.streaming.stateful import minhash_ingest_gate

    words = [f"w{i}" for i in range(40)]
    a = " ".join(words)
    near_a = " ".join(words[:-2] + ["x1", "x2"])      # ~95% overlap with a
    novel = " ".join(f"q{i}" for i in range(40))
    b1 = spark.createDataFrame([(1, a)], "doc_id long, text string")
    b2 = spark.createDataFrame([(2, near_a), (3, novel)],
                               "doc_id long, text string")
    out = str(tmp_path / "docs")
    sig = str(tmp_path / "sigs")
    gate = minhash_ingest_gate(out, sig)
    gate(b1, 0)
    gate(b2, 1)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}
    sig_ids = {r["id"] for r in spark.read.parquet(sig).collect()}
    assert sig_ids == {1, 3}
    assert os.path.exists(sig)


def test_media_triage_gate_routing(spark, tmp_path):
    """The foreachBatch media gate routes by REAL header parsing: valid
    containers keep their parsed metadata, out-of-policy and corrupt
    blobs land in quarantine with named reasons; nothing is dropped."""
    from dbt_spark.functions.multimodal import (build_bmp, build_gif,
                                                build_png, build_wav)
    from dbt_spark.streaming.stateful import media_triage_gate

    rows = [
        (1, bytearray(build_png(640, 360))),
        (2, bytearray(build_wav(2, 16000, 16, 100))),
        (3, bytearray(b"\x00garbage-bytes\x01\x02")),
        (4, bytearray(build_gif(0, 9))),          # zero width -> bad_dims
        (5, bytearray(build_bmp(20000, 10))),     # over policy cap
        (6, bytearray(build_wav(1, 0, 16, 10))),  # zero rate -> bad_rate
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    kept_dir, quar_dir = str(tmp_path / "k"), str(tmp_path / "q")
    media_triage_gate(kept_dir, quar_dir)(df, 0)
    kept = {r["doc_id"]: r for r in spark.read.parquet(kept_dir).collect()}
    quar = {r["doc_id"]: r for r in spark.read.parquet(quar_dir).collect()}
    assert set(kept) == {1, 2} and set(quar) == {3, 4, 5, 6}
    assert (kept[1]["media_format"], kept[1]["width"]) == ("png", 640)
    assert kept[2]["sample_rate"] == 16000
    assert quar[3]["reason"] == "unknown_container"
    assert quar[4]["reason"] == "bad_dims"
    assert quar[5]["reason"] == "bad_dims"
    assert quar[6]["reason"] == "bad_rate"


def test_mg_heavy_hitters_cross_batch_state(spark, tmp_path):
    """Cross-batch Misra-Gries state (stateful.py:mg_heavy_hitters_stream):
    a hitter concentrated ENTIRELY in micro-batch 1 must still be in the
    final candidate summary after batch 2 drains — dropping state between
    batches would lose it. (The full value-paired e2e is the registered
    stream_heavy_hitters query.)"""
    import pandas as pd

    from dbt_spark.streaming.stateful import mg_heavy_hitters_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: 'hot' dominates source s; batch 2: uniform noise, no 'hot'
    b1 = spark.createDataFrame(
        [("s", "hot")] * 40 + [("s", f"w{i}") for i in range(10)],
        "source string, token string")
    b2 = spark.createDataFrame(
        [("s", f"n{i % 20}") for i in range(40)],
        "source string, token string")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (mg_heavy_hitters_stream(stream, k=8)
         .writeStream.format("memory").queryName("mg_hh_t")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    cands = {r["token"] for r in
             spark.table("mg_hh_t").select("token").collect()}
    # 'hot' has 40 of 90 total > 90/8: the guarantee requires it to survive
    assert "hot" in cands


def test_stream_prompt_decontam_cross_batch_dedup(spark):
    """The streaming decontam gate must (1) equal the batch twin exactly
    — a stream-static join is arrival-order-free — and (2) have swallowed
    the second drop's deliberate re-sends via checkpointed dropDuplicates
    state: one output row per train prompt, no repeats."""
    from collections import Counter

    from dbt_spark.queries.sft import prompt_decontam_ngram
    from dbt_spark.queries.streaming_q import stream_prompt_decontam

    sf = "/root/testdata/sf0.001"
    got = stream_prompt_decontam(spark, sf).collect()
    ids = Counter(r["doc_id"] for r in got)
    assert max(ids.values()) == 1, "re-sent prompts leaked through state"
    want = prompt_decontam_ngram(spark, sf).collect()
    key = lambda r: (r["conv_id"], r["doc_id"])
    assert sorted(map(tuple, got), key=lambda t: t[:2]) == sorted(
        map(tuple, want), key=lambda t: t[:2])


def test_stream_kmv_estimates_sane(spark):
    """Streaming KMV store: estimates positive, rel err within the k=256
    bound on the fixture, exact counts match a direct distinct count."""
    from dbt_spark.queries.streaming_q import stream_kmv_cardinality

    rows = stream_kmv_cardinality(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["exact_distinct"] > 0
        assert r["kmv_estimate_r6"] > 0
        assert abs(r["rel_err_r6"]) < 0.25


def test_streaming_queries_release_their_dirs(spark, tmp_path, monkeypatch):
    """One query of each streaming shape, consumed and dropped the way
    every registry consumer does it, leaves nothing behind: no scratch
    dir, no temp view, no scan-cache entry. Shapes: file-sink output
    (pii_scrub), fold store (hll), memory sink (heavy_hitters),
    foreachBatch output dir (prompt_decontam), two output dirs
    (media_triage), the mini engine context (ingest_checkpoint) and a
    raise-checked replay with a driver-side result (neardup)."""
    import gc
    import tempfile

    from dbt_spark import session
    from dbt_spark.queries import QUERIES

    names = ["stream_pii_scrub", "stream_hll_cardinality",
             "stream_heavy_hitters", "stream_prompt_decontam",
             "stream_media_triage", "streaming_ingest_checkpoint",
             "stream_neardup_ingest"]
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    def temp_views() -> set:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    def run_all() -> None:
        for name in names:
            df = QUERIES[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            del df
        gc.collect()

    run_all()
    assert sorted(os.listdir(tmp)) == []
    # a repeat call replaces the views it names; none may accumulate
    views, cached = temp_views(), len(session._scan_cache)
    run_all()
    assert sorted(os.listdir(tmp)) == []
    assert temp_views() == views
    assert len(session._scan_cache) == cached
