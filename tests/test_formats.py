"""TableFormat seam (dbt_spark/formats.py): format routing under
RelationStore, capability flags, and the jar-gated ACID formats' clean
in-container failure mode."""

import os

import pytest

from dbt_spark.catalog import RelationStore
from dbt_spark.formats import TABLE_FORMATS, recover, table_format


def test_registry_and_lookup():
    assert set(TABLE_FORMATS) == {"parquet", "orc", "json", "csv",
                                  "delta", "iceberg", "txparquet"}
    assert table_format(None).name == "parquet"
    assert table_format("CSV").name == "csv"
    with pytest.raises(ValueError, match="unknown file_format"):
        table_format("hudi")


def test_capability_flags():
    assert not table_format("parquet").acid
    assert not table_format("csv").supports_native_merge
    assert table_format("delta").acid
    assert table_format("iceberg").supports_native_merge
    assert table_format("txparquet").acid
    assert table_format("txparquet").supports_native_merge
    # and unlike the jar-gated formats it is executable in-container
    assert table_format("txparquet").available.__qualname__.startswith(
        "SwapFileFormat")


def test_acid_formats_gated_in_container(spark):
    # no delta/iceberg jars here: selecting them must fail EARLY with a
    # clear message, not deep inside a Spark job
    for name in ("delta", "iceberg"):
        fmt = table_format(name)
        assert not fmt.available(spark)
        with pytest.raises(RuntimeError, match=f"file_format='{name}'"):
            fmt.require(spark)


def test_write_table_rejects_gated_format(spark, tmp_path):
    store = RelationStore(spark, str(tmp_path / "wh"))
    df = spark.range(3).selectExpr("id", "id * 2 AS v")
    with pytest.raises(RuntimeError, match="delta"):
        store.write_table("main", "t_delta", df, file_format="delta")
    # nothing half-written
    assert store.get("main", "t_delta") is None
    assert not os.path.exists(store.path_for("main", "t_delta"))


def test_swap_formats_roundtrip_through_store(spark, tmp_path):
    store = RelationStore(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id int, s string, v double")
    for fmt in ("parquet", "orc", "json", "csv"):
        rel = store.write_table("main", f"t_{fmt}", df, file_format=fmt)
        got = sorted((r.id, r.s, float(r.v))
                     for r in store.read("main", f"t_{fmt}").collect())
        assert got == [(1, "a", 1.5), (2, "b", 2.5)], fmt
        # exact types survive the round trip (schema_json for schema-light)
        assert store.read("main", f"t_{fmt}").schema == df.schema, fmt
        if fmt == "parquet":
            assert "file_format" not in rel.meta
        else:
            assert rel.meta["file_format"] == fmt


def test_overwrite_swap_is_atomic_per_format(spark, tmp_path):
    # second overwrite fully replaces the first; no leftover staging dirs
    store = RelationStore(spark, str(tmp_path / "wh"))
    d1 = spark.range(5).selectExpr("id")
    d2 = spark.range(2).selectExpr("id + 100 AS id")
    for fmt in ("parquet", "json"):
        store.write_table("main", f"a_{fmt}", d1, file_format=fmt)
        store.write_table("main", f"a_{fmt}", d2, file_format=fmt)
        got = sorted(r.id for r in store.read("main", f"a_{fmt}").collect())
        assert got == [100, 101], fmt
        parent = os.path.dirname(store.path_for("main", f"a_{fmt}"))
        assert not [e for e in os.listdir(parent) if "__staging__" in e]


def test_standalone_overwrite_replaces_existing_dir(spark, tmp_path):
    """write_overwrite used standalone (no RelationStore lock) must still
    replace an existing non-empty target directory — os.replace alone
    refuses that, so the old copy is retired first."""
    fmt = table_format("parquet")
    path = str(tmp_path / "standalone_tbl")
    fmt.write_overwrite(spark.range(4).selectExpr("id"), path)
    fmt.write_overwrite(spark.range(2).selectExpr("id + 50 AS id"), path)
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == [50, 51]
    parent = os.path.dirname(path)
    leftovers = [e for e in os.listdir(parent)
                 if "__staging__" in e or "__retired__" in e]
    assert not leftovers


@pytest.mark.parametrize("writer", ["standalone", "engine"])
def test_standalone_overwrite_crash_between_replaces_recovers(
        spark, tmp_path, monkeypatch, writer):
    """Crash injection for the ADVICE r7 __retired__ leak: kill the process
    (simulated) between the retire os.replace and the swap-in os.replace.
    The stranded state must (a) restore the pre-crash table on the next
    write's recovery pass and (b) leave zero __retired__ / __staging__
    dirs behind afterwards — for a standalone ``write_overwrite`` and for
    ``RelationStore.write_table``, which run the same overwrite."""
    import dbt_spark.formats as formats_mod

    if writer == "standalone":
        fmt = table_format("parquet")
        path = str(tmp_path / "crashy_tbl")

        def write(df):
            fmt.write_overwrite(df, path)
    else:
        store = RelationStore(spark, str(tmp_path / "wh"))
        path = store.path_for("main", "crashy_tbl")

        def write(df):
            store.write_table("main", "crashy_tbl", df)
    write(spark.range(3).selectExpr("id"))

    real_replace = os.replace
    calls = {"n": 0}

    def crashing_replace(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            real_replace(src, dst)  # the retire move-aside succeeds...
            raise RuntimeError("injected crash before swap-in")
        real_replace(src, dst)

    monkeypatch.setattr(formats_mod.os, "replace", crashing_replace)
    with pytest.raises(RuntimeError, match="injected crash"):
        write(spark.range(2).selectExpr("id + 10 AS id"))
    monkeypatch.setattr(formats_mod.os, "replace", real_replace)

    # stranded state: target gone, data in a __retired__ dir + staging dir
    parent = os.path.dirname(path)
    assert not os.path.exists(path)
    assert [e for e in os.listdir(parent) if "__retired__" in e]

    # recovery path A: the next write restores-then-replaces and sweeps
    write(spark.range(2).selectExpr("id + 50 AS id"))
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == [50, 51]
    leftovers = [e for e in os.listdir(parent)
                 if "__staging__" in e or "__retired__" in e]
    assert not leftovers


def test_standalone_recover_restores_newest_retired_copy(spark, tmp_path):
    """Recovery alone (no new data yet) must bring back the NEWEST retired
    copy so a reader between crash and next write sees the pre-crash
    table, and must sweep older retired copies and stale staging dirs."""
    path = str(tmp_path / "t")
    spark.range(4).selectExpr("id").write.parquet(path + ".__retired__100")
    spark.range(2).selectExpr("id + 90 AS id").write.parquet(
        path + ".__retired__200")
    spark.range(1).write.parquet(path + ".__staging__150")

    recover(path)
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == [90, 91]  # the newest (ts=200) copy won
    parent = os.path.dirname(path)
    leftovers = [e for e in os.listdir(parent)
                 if "__staging__" in e or "__retired__" in e]
    assert not leftovers


# --------------------------------------------------------------------------
# txparquet: the in-container ACID format — commit-log protocol +
# the whole materialization suite run over a transactional target
# --------------------------------------------------------------------------

import json

from dbt_spark.formats import TxParquetFormat


@pytest.fixture()
def tx_store(spark, tmp_path):
    return RelationStore(spark, str(tmp_path / "wh")), table_format("txparquet")


def test_txparquet_overwrite_append_read_roundtrip(spark, tx_store):
    store, fmt = tx_store
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    store.write_table("main", "t", df, file_format="txparquet")
    assert store.read("main", "t").count() == 10
    store.write_table("main", "t", spark.range(10, 13).selectExpr(
        "id", "id * 2 AS v"), mode="append", file_format="txparquet")
    assert store.read("main", "t").count() == 13
    rel = store.get("main", "t")
    assert rel.meta["file_format"] == "txparquet"
    # two commits, immutable data files, no swap dirs
    assert fmt.latest_version(rel.path) == 2
    assert not [e for e in os.listdir(os.path.dirname(rel.path))
                if "__staging__" in e or "__retired__" in e]


def test_txparquet_time_travel_and_snapshot_isolation(spark, tx_store):
    store, fmt = tx_store
    store.write_table("main", "t", spark.range(5).selectExpr("id"),
                      file_format="txparquet")
    rel = store.get("main", "t")
    old_plan = store.read("main", "t")  # plan bound to version 1's files
    store.write_table("main", "t", spark.range(2).selectExpr("id"),
                      file_format="txparquet")
    # reader of the superseded snapshot is unaffected by the new commit
    assert old_plan.count() == 5
    assert store.read("main", "t").count() == 2
    assert fmt.read_version(spark, rel.path, 1).count() == 5
    assert fmt.read_version(spark, rel.path, 2).count() == 2


def test_txparquet_commit_conflict_rebases_append(spark, tx_store):
    """Optimistic concurrency: a foreign commit landing between an
    append's stage and commit makes the appender REBASE onto the new
    state — both writers' rows survive."""
    store, fmt = tx_store
    store.write_table("main", "t", spark.range(3).selectExpr("id", "id AS v"),
                      file_format="txparquet")
    rel = store.get("main", "t")
    # simulate a concurrent writer claiming version 2 directly
    foreign = spark.createDataFrame([(100, 100)], "id long, v long")
    files = fmt._stage_data(foreign, rel.path)
    assert fmt._try_commit(rel.path, 2, {
        "version": 2, "files": fmt._load_commit(rel.path, 1)["files"] + files,
        "schema": foreign.schema.json()})
    # our append must land as version 3 INCLUDING the foreign row
    fmt.write_append(spark.createDataFrame([(200, 200)], "id long, v long"),
                     rel.path)
    assert fmt.latest_version(rel.path) == 3
    got = {r.id for r in store.read("main", "t").collect()}
    assert got == {0, 1, 2, 100, 200}


def test_txparquet_merge_conflict_fails_cleanly(spark, tx_store):
    store, fmt = tx_store
    store.write_table("main", "t", spark.range(3).selectExpr("id", "id AS v"),
                      file_format="txparquet")
    rel = store.get("main", "t")
    batch = spark.createDataFrame([(1, 99)], "id long, v long")
    # wedge a foreign commit in by monkeypatching the stage step to
    # commit version 2 first (deterministic interleave)
    orig_stage = fmt._stage_data

    def stage_then_foreign(df, path):
        files = orig_stage(df, path)
        foreign = orig_stage(spark.createDataFrame([(7, 7)], "id long, v long"),
                             path)
        fmt._try_commit(path, 2, {
            "version": 2,
            "files": fmt._load_commit(path, 1)["files"] + foreign,
            "schema": df.schema.json()})
        return files

    fmt._stage_data = stage_then_foreign
    try:
        with pytest.raises(RuntimeError, match="concurrent commit"):
            fmt.merge_into(spark, rel.path, batch, ["id"])
    finally:
        fmt._stage_data = orig_stage
    # the table state is the FOREIGN commit, uncorrupted
    assert {r.id for r in store.read("main", "t").collect()} == {0, 1, 2, 7}


def test_txparquet_native_merge_is_file_pruned(spark, tx_store):
    """merge_into rewrites only data files containing matched keys;
    untouched files are re-referenced VERBATIM in the new commit."""
    store, fmt = tx_store
    store.write_table("main", "t",
                      spark.range(0, 5).selectExpr("id", "id AS v"),
                      file_format="txparquet")
    rel = store.get("main", "t")
    store.write_table("main", "t",
                      spark.range(100, 105).selectExpr("id", "id AS v"),
                      mode="append", file_format="txparquet")
    before = fmt._load_commit(rel.path, fmt.latest_version(rel.path))
    first_commit_files = set(fmt._load_commit(rel.path, 1)["files"])
    # batch touches only the second append's key range
    fmt.merge_into(spark, rel.path,
                   spark.createDataFrame([(101, -1)], "id long, v long"),
                   ["id"])
    after = fmt._load_commit(rel.path, fmt.latest_version(rel.path))
    # every file of the untouched first commit is still referenced verbatim
    assert first_commit_files <= set(after["files"])
    # and at least one file of the touched commit was replaced
    assert set(before["files"]) - set(after["files"])
    got = dict((r.id, r.v) for r in store.read("main", "t").collect())
    assert got[101] == -1 and got[0] == 0 and len(got) == 10


def test_txparquet_vacuum_drops_superseded_files(spark, tx_store):
    store, fmt = tx_store
    store.write_table("main", "t", spark.range(8).selectExpr("id"),
                      file_format="txparquet")
    rel = store.get("main", "t")
    store.write_table("main", "t", spark.range(2).selectExpr("id"),
                      file_format="txparquet")
    removed = fmt.vacuum(rel.path)
    assert removed > 0
    assert store.read("main", "t").count() == 2
    # only the latest commit's log remains
    assert fmt.latest_version(rel.path) == 2
    assert len(os.listdir(os.path.join(rel.path, "_commits"))) == 1


# --------------------------------------------------------------------------
# the materialization suite over the ACID target: every incremental
# strategy + snapshot driven through the REAL operators with
# file_format='txparquet' — the seam exercised, not just declared
# --------------------------------------------------------------------------

from dbt_spark.operators.incremental import materialize_incremental
from dbt_spark.operators.materialize import ExecutionContext
from dbt_spark.operators.snapshot import materialize_snapshot
from dbt_spark.plans.manifest import Manifest, ManifestNode, NodeConfig, NodeType


def _tx_ctx(spark, tmp_path, **kw):
    from dbt_spark.project import Project

    project = Project(name="txq", root=str(tmp_path), profile={
        "warehouse": str(tmp_path / "wh"), "schema": "main", "threads": 2})
    return ExecutionContext(
        spark=spark, store=RelationStore(spark, project.profile["warehouse"]),
        manifest=Manifest(project_name="txq"), project=project, **kw)


def _tx_node(name, sql, **config):
    config.setdefault("file_format", "txparquet")
    return ManifestNode(
        unique_id=f"model.txq.{name}", name=name, package_name="txq",
        path=f"models/{name}.sql", resource_type=NodeType.Model,
        raw_code=sql, config=NodeConfig().merged(**config))


def test_txparquet_incremental_append(spark, tmp_path):
    ctx = _tx_ctx(spark, tmp_path)
    node = _tx_node("a", "SELECT 1 AS id, 'x' AS s",
                    materialized="incremental", incremental_strategy="append")
    materialize_incremental(ctx, node)
    node.raw_code = "SELECT 2 AS id, 'y' AS s"
    materialize_incremental(ctx, node)
    rel = ctx.store.get("main", "a")
    assert rel.meta["file_format"] == "txparquet"
    assert {r.id for r in ctx.store.read("main", "a").collect()} == {1, 2}
    assert table_format("txparquet").latest_version(rel.path) == 2


def test_txparquet_incremental_merge_uses_native_path(spark, tmp_path):
    """strategy=merge over txparquet routes through _native_merge →
    merge_into: the commit log shows a file-pruned commit (the first
    batch's untouched files re-referenced), not a full rewrite."""
    ctx = _tx_ctx(spark, tmp_path)
    node = _tx_node("m", "SELECT id, CAST(id AS STRING) AS s FROM range(5)",
                    materialized="incremental", incremental_strategy="merge",
                    unique_key="id")
    materialize_incremental(ctx, node)
    rel = ctx.store.get("main", "m")
    fmt = table_format("txparquet")
    v1_files = set(fmt._load_commit(rel.path, 1)["files"])
    ctx.store.write_table("main", "m",
                          spark.range(100, 103).selectExpr(
                              "id", "CAST(id AS STRING) AS s"),
                          mode="append", file_format="txparquet")
    node.raw_code = "SELECT 101 AS id, 'UPD' AS s"
    materialize_incremental(ctx, node)
    got = dict((r.id, r.s) for r in ctx.store.read("main", "m").collect())
    assert got[101] == "UPD" and got[0] == "0" and len(got) == 8
    after = fmt._load_commit(rel.path, fmt.latest_version(rel.path))
    # native file-pruned merge: batch 1's files survived verbatim
    assert v1_files <= set(after["files"])


def test_txparquet_incremental_merge_schema_evolution_falls_back(spark, tmp_path):
    """on_schema_change=append_new_columns evolves the target schema —
    _native_merge declines and the generic rewrite path handles it,
    still committing transactionally through the format."""
    ctx = _tx_ctx(spark, tmp_path)
    node = _tx_node("e", "SELECT 1 AS id, 'x' AS s",
                    materialized="incremental", incremental_strategy="merge",
                    unique_key="id", on_schema_change="append_new_columns")
    materialize_incremental(ctx, node)
    node.raw_code = "SELECT 1 AS id, 'x2' AS s, 42 AS extra"
    materialize_incremental(ctx, node)
    rows = ctx.store.read("main", "e").collect()
    assert rows[0].s == "x2" and rows[0].extra == 42


def test_txparquet_incremental_delete_insert(spark, tmp_path):
    ctx = _tx_ctx(spark, tmp_path)
    node = _tx_node("d", "SELECT id, 'v1' AS s FROM range(4)",
                    materialized="incremental",
                    incremental_strategy="delete+insert", unique_key="id")
    materialize_incremental(ctx, node)
    node.raw_code = "SELECT 2 AS id, 'v2' AS s"
    materialize_incremental(ctx, node)
    got = dict((r.id, r.s) for r in ctx.store.read("main", "d").collect())
    assert got == {0: "v1", 1: "v1", 2: "v2", 3: "v1"}


def test_txparquet_snapshot_scd2(spark, tmp_path):
    ctx = _tx_ctx(spark, tmp_path, snapshot_ts="2020-01-01 00:00:00")
    node = _tx_node("snap", "SELECT 1 AS k, 'a' AS val",
                    materialized="snapshot", unique_key="k",
                    strategy="check", check_cols=["val"])
    materialize_snapshot(ctx, node)
    ctx.snapshot_ts = "2020-06-01 00:00:00"
    node.raw_code = "SELECT 1 AS k, 'b' AS val"
    materialize_snapshot(ctx, node)
    rel = ctx.store.get("main", "snap")
    assert rel.meta["file_format"] == "txparquet"
    rows = sorted(((r.val, r.dbt_valid_to is None)
                   for r in ctx.store.read("main", "snap").collect()))
    assert rows == [("a", False), ("b", True)]
    # two snapshot materializations = two commits on the ACID target
    assert table_format("txparquet").latest_version(rel.path) == 2


def test_txparquet_table_materialization_via_engine(spark, tmp_path, project_dir):
    """dbt build of a project whose models configure
    file_format='txparquet': table + incremental merge end-to-end through
    the Engine over the transactional format."""
    from dbt_spark.runner import Engine

    root = project_dir({
        "dbt_project.yml": "name: txp\nmodel-paths: ['models']\n",
        "models/base.sql": (
            "{{ config(materialized='table', file_format='txparquet') }}\n"
            "SELECT id, id * 10 AS v FROM range(6)"
        ),
        "models/inc.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='merge', unique_key='id', "
            "file_format='txparquet') }}\n"
            "SELECT id, v FROM {{ ref('base') }}\n"
            "{% if is_incremental() %} WHERE id >= 4 {% endif %}"
        ),
    })
    eng = Engine(root, spark=spark)
    assert eng.invoke(["build"]).success
    assert eng.invoke(["build"]).success  # second run: incremental merge
    rel = eng.store.get("main", "inc")
    assert rel.meta["file_format"] == "txparquet"
    assert {r.id for r in eng.store.read("main", "inc").collect()} == set(range(6))
    assert table_format("txparquet").latest_version(rel.path) >= 2


def test_txparquet_concurrent_appenders_all_survive(spark, tmp_path):
    """REAL thread race on one table: six appenders released by a barrier
    commit concurrently; optimistic concurrency makes each loser rebase and
    retry, so every writer's rows land and the log shows 7 versions."""
    import threading

    store, fmt = RelationStore(spark, str(tmp_path / "wh")), table_format("txparquet")
    store.write_table("main", "t", spark.createDataFrame([(0, 0)], "id long, v long"),
                      file_format="txparquet")
    rel = store.get("main", "t")
    barrier = threading.Barrier(6)
    errors = []

    def appender(i):
        df = spark.createDataFrame([(i, i * 10)], "id long, v long")
        barrier.wait()
        try:
            fmt.write_append(df, rel.path)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert fmt.latest_version(rel.path) == 7
    assert {r.id for r in store.read("main", "t").collect()} == set(range(7))


def test_txparquet_compact_via_store(spark, tmp_path):
    """RelationStore.compact over an ACID relation: transactional rewrite
    (no staged swap) then vacuum — many append-accreted files collapse to
    few, data intact, and only the latest commit remains."""
    store, fmt = RelationStore(spark, str(tmp_path / "wh")), table_format("txparquet")
    store.write_table("main", "t", spark.range(0, 20).selectExpr("id"),
                      file_format="txparquet")
    for lo in range(20, 80, 20):
        store.write_table("main", "t",
                          spark.range(lo, lo + 20).selectExpr("id"),
                          mode="append", file_format="txparquet")
    rel = store.get("main", "t")
    before, after = store.compact("main", "t")
    assert before > after >= 1
    assert store.read("main", "t").count() == 80
    assert fmt.latest_version(rel.path) >= 5
    assert len(os.listdir(os.path.join(rel.path, "_commits"))) == 1


# ---- round-11: Delta seam exercised for real when jars are present ----
# Collection-time gate (no SparkSession needed): the e2e generates ONLY
# when a delta runtime is importable/on the classpath, so the in-container
# suite keeps its zero-skip count while the test goes green wherever the
# jars exist. Without jars, the INCREMENTAL-merge entry to the seam gets
# the named negative test instead (clear early error, nothing half-written).


def _delta_runtime_present() -> bool:
    import importlib.util

    if importlib.util.find_spec("delta") is not None:
        return True
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any(j.startswith(("delta-spark", "delta-core"))
                   for j in os.listdir(jars))
    except Exception:
        return False


_DELTA_PRESENT = _delta_runtime_present()


if _DELTA_PRESENT:
    def test_delta_incremental_merge_e2e(tmp_path):
        """file_format=delta + incremental merge routes through
        DeltaFormat.merge_into (native MERGE INTO delta.`path`), proving
        the TableFormat seam beyond txparquet. Needs its own session with
        the Delta SQL extension."""
        from pyspark.sql import SparkSession

        builder = (
            SparkSession.builder.master("local[4]")
            .appName("delta-seam-e2e")
            .config("spark.sql.extensions",
                    "io.delta.sql.DeltaSparkSessionExtension")
            .config("spark.sql.catalog.spark_catalog",
                    "org.apache.spark.sql.delta.catalog.DeltaCatalog")
            .config("spark.sql.shuffle.partitions", "4")
        )
        try:
            from delta import configure_spark_with_delta_pip

            builder = configure_spark_with_delta_pip(builder)
        except ImportError:
            pass
        dspark = builder.getOrCreate()

        from dbt_spark.operators.incremental import materialize_incremental
        from dbt_spark.operators.materialize import ExecutionContext
        from dbt_spark.plans.manifest import (
            Manifest, ManifestNode, NodeConfig, NodeType)
        from dbt_spark.project import Project

        root = str(tmp_path)
        project = Project(
            name="deltae2e", root=root,
            profile={"warehouse": os.path.join(root, "wh"),
                     "schema": "main", "threads": 2})
        ctx = ExecutionContext(
            spark=dspark,
            store=RelationStore(dspark, project.profile["warehouse"]),
            manifest=Manifest(project_name="deltae2e"), project=project)
        node = ManifestNode(
            unique_id="model.deltae2e.t", name="t", package_name="deltae2e",
            path="models/t.sql", resource_type=NodeType.Model,
            raw_code="SELECT 1 AS k, 10 AS v UNION ALL SELECT 2, 20",
            config=NodeConfig().merged(
                materialized="incremental", incremental_strategy="merge",
                unique_key="k", file_format="delta"))
        materialize_incremental(ctx, node)
        node.raw_code = "SELECT 2 AS k, 99 AS v UNION ALL SELECT 3, 30"
        materialize_incremental(ctx, node)
        got = sorted((r.k, r.v)
                     for r in ctx.store.read("main", "t").collect())
        assert got == [(1, 10), (2, 99), (3, 30)]
        # the relation really is a Delta table (commit log present)
        rel = ctx.store.get("main", "t")
        assert os.path.isdir(os.path.join(rel.path, "_delta_log"))
else:
    def test_delta_incremental_merge_gated_without_jars(spark, tmp_path):
        """The incremental-merge entry to the Delta seam fails EARLY with
        the install hint when the jars are missing — nothing half-written."""
        from dbt_spark.operators.incremental import materialize_incremental
        from dbt_spark.operators.materialize import ExecutionContext
        from dbt_spark.plans.manifest import (
            Manifest, ManifestNode, NodeConfig, NodeType)
        from dbt_spark.project import Project

        root = str(tmp_path)
        project = Project(
            name="deltagate", root=root,
            profile={"warehouse": os.path.join(root, "wh"),
                     "schema": "main", "threads": 2})
        store = RelationStore(spark, project.profile["warehouse"])
        ctx = ExecutionContext(
            spark=spark, store=store,
            manifest=Manifest(project_name="deltagate"), project=project)
        node = ManifestNode(
            unique_id="model.deltagate.t", name="t", package_name="deltagate",
            path="models/t.sql", resource_type=NodeType.Model,
            raw_code="SELECT 1 AS k, 10 AS v",
            config=NodeConfig().merged(
                materialized="incremental", incremental_strategy="merge",
                unique_key="k", file_format="delta"))
        with pytest.raises(RuntimeError, match="delta-spark package"):
            materialize_incremental(ctx, node)
        assert store.get("main", "t") is None
        assert not os.path.exists(store.path_for("main", "t"))
