"""Sources: declared external tables resolve in models; freshness evaluation."""

from datetime import datetime

import pytest

from dbt_spark.runner import Engine
from dbt_spark.sources.freshness import check_freshness
from dbt_spark.operators.materialize import ExecutionContext

SOURCES_YML = """
sources:
  - name: tpch
    tables:
      - name: orders
        meta: {location: "/root/testdata/sf0.001/orders.parquet"}
      - name: events
        loaded_at_field: ts
        freshness:
          warn_after: {count: 1, period: day}
          error_after: {count: 30, period: day}
        meta: {location: "/root/testdata/sf0.001/events.parquet"}
"""

MODEL = """
{{ config(materialized='table') }}
select o_orderpriority, count(*) as n
from {{ source('tpch', 'orders') }}
group by o_orderpriority
"""


def test_source_resolution(project_dir, spark):
    root = project_dir({
        "dbt_project.yml": "name: srcs\n",
        "models/prio.sql": MODEL,
        "models/sources.yml": SOURCES_YML,
    })
    eng = Engine(root, spark=spark)
    manifest = eng.parse()
    assert "source.srcs.tpch.orders" in manifest.sources
    node = manifest.nodes["model.srcs.prio"]
    assert "source.srcs.tpch.orders" in node.depends_on
    r = eng.invoke(["run"])
    assert r.success, [x.message for x in r.results]
    assert eng.store.read("main", "prio").count() == 5


def test_source_freshness(project_dir, spark):
    root = project_dir({
        "dbt_project.yml": "name: srcs\n",
        "models/sources.yml": SOURCES_YML,
    })
    eng = Engine(root, spark=spark)
    manifest = eng.parse()
    node = manifest.sources["source.srcs.tpch.events"]
    ctx = ExecutionContext(
        spark=spark, store=eng.store, manifest=manifest, project=eng.project
    )
    # events ts is 2024-era synthetic data: stale vs 2026-01-01 by far
    res = check_freshness(ctx, node, now=datetime(2026, 1, 1))
    assert res.max_loaded_at is not None
    assert res.status in ("warn", "error")
    # generous `now` right after the data's max ts -> pass
    res2 = check_freshness(ctx, node, now=res.max_loaded_at)
    assert res2.status == "pass"
    assert res2.age_seconds == 0.0


def test_external_source_block_with_partitions(project_dir, spark, tmp_path):
    """external: block (ExternalTable, reference v1/source_definition.py:37-49):
    location/file_format/partitions declare an externally-managed table;
    hive-style partition dirs are discovered by the scan and the partition
    filter prunes directories."""
    import os

    ext_dir = str(tmp_path / "ext_events")
    spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"),
         (3, "c", "2024-01-02")],
        "id long, v string, ds string",
    ).write.partitionBy("ds").mode("overwrite").parquet(ext_dir)
    root = project_dir({
        "dbt_project.yml": "name: ext\n",
        "models/day1.sql": (
            "{{ config(materialized='table') }}\n"
            "select id, v from {{ source('raw', 'events') }} "
            "where ds = '2024-01-01'"
        ),
        "models/sources.yml": f"""
sources:
  - name: raw
    tables:
      - name: events
        external:
          location: "{ext_dir}"
          file_format: parquet
          partitions:
            - {{name: ds, data_type: string}}
""",
    })
    eng = Engine(root, spark=spark)
    manifest = eng.parse()
    src = manifest.sources["source.ext.raw.events"]
    assert src.config.meta["location"] == ext_dir
    assert src.config.meta["external_partitions"] == ["ds"]
    r = eng.invoke(["run"])
    assert r.success, [x.message for x in r.results]
    assert eng.store.read("main", "day1").count() == 2


def test_external_partition_validation(project_dir, spark):
    from dbt_spark.plans.compile import CompilationError
    import pytest

    root = project_dir({
        "dbt_project.yml": "name: ext2\n",
        "models/sources.yml": """
sources:
  - name: raw
    tables:
      - name: bad
        external:
          location: "/tmp/x"
          partitions:
            - {name: ds}
""",
    })
    with pytest.raises(CompilationError, match="names and data types"):
        Engine(root, spark=spark).parse()


def test_source_freshness_project_hooks_flag_on(project_dir, spark):
    """flags: source_freshness_run_project_hooks — `source freshness` runs
    project on-run-start/end hooks iff the flag is set (reference
    core/dbt/task/freshness.py:271-276 get_hooks_by_type,
    core/dbt/contracts/project.py:344 ProjectFlags default False).
    Observable: a failing hook propagates when the flag is on."""
    import pytest as _pytest

    root = project_dir({
        "dbt_project.yml": (
            "name: srcs\n"
            "flags: {source_freshness_run_project_hooks: true}\n"
            "on-run-start: ['select * from definitely_missing_table']\n"),
        "models/sources.yml": SOURCES_YML,
    })
    eng = Engine(root, spark=spark)
    with _pytest.raises(RuntimeError, match="on-run-start hook failed"):
        eng.invoke(["source", "freshness"])


def test_source_freshness_project_hooks_flag_off_fires_d017(project_dir, spark):
    """Flag unset (default): hooks do NOT run — the same failing hook is
    skipped, freshness succeeds, and the D017
    SourceFreshnessProjectHooksNotRun deprecation fires."""
    root = project_dir({
        "dbt_project.yml": (
            "name: srcs\n"
            "on-run-start: ['select * from definitely_missing_table']\n"),
        "models/sources.yml": SOURCES_YML,
    })
    eng = Engine(root, spark=spark)
    seen = []
    eng.events.callbacks.append(lambda ev: seen.append((ev.name, ev.code)))
    # must NOT raise the hook failure; the stale fixture data itself may
    # yield error-status freshness rows, which is fine here
    r = eng.invoke(["source", "freshness"])
    assert all("hook" not in (x.message or "") for x in r.results)
    assert ("SourceFreshnessProjectHooksNotRun", "D017") in seen


def test_freshness_threshold_loosened_validation():
    """A warn_after/error_after missing count or period is NO threshold,
    not a parse error — reference Time.exceeded returns False when either
    is None (v1/components.py:117-129; validation loosened by
    Fixes-20250128-135509 for previously-wrong-but-harmless configs)."""
    from dbt_spark.sources.freshness import _threshold_seconds

    assert _threshold_seconds(None) is None
    assert _threshold_seconds({}) is None
    assert _threshold_seconds({"count": 2}) is None          # period missing
    assert _threshold_seconds({"period": "hour"}) is None    # count missing
    assert _threshold_seconds({"count": 2, "period": "hour"}) == 7200
    # unknown period never parsed in any version: still an error
    import pytest as _pt
    with _pt.raises(KeyError):
        _threshold_seconds({"count": 1, "period": "fortnight"})


def _source_project(project_dir, name, location, fmt="parquet"):
    return project_dir({
        "dbt_project.yml": f"name: {name}\n",
        "models/sources.yml": (
            "sources:\n  - name: raw\n    tables:\n      - name: orders\n"
            f"        meta: {{location: \"{location}\", file_format: {fmt}}}\n"),
        "models/a.sql": ("{{ config(materialized='table') }}\n"
                         "select count(*) as n from {{ source('raw', 'orders') }}"),
        "models/b.sql": ("{{ config(materialized='table') }}\n"
                         "-- depends_on: {{ ref('a') }}\n"
                         "select count(*) as n from {{ source('raw', 'orders') }}"),
    })


def _write_rows(spark, path, n, fmt, mode="overwrite"):
    spark.range(n).selectExpr("id AS k").coalesce(1).write.mode(mode).format(
        fmt).option("header", True).save(path)


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_source_gaining_files_mid_invocation_is_reread(project_dir, spark,
                                                      tmp_path, monkeypatch,
                                                      fmt):
    """A source is registered once per distinct scan: a file landing in its
    directory between two nodes of one invocation is seen by the later one."""
    loc = str(tmp_path / "orders")
    _write_rows(spark, loc, 3, fmt)
    root = _source_project(project_dir, f"grow_{fmt}", loc, fmt)
    orig = Engine._execute_node

    def land_after_a(self, ctx, node, *a, **kw):
        orig(self, ctx, node, *a, **kw)
        if node.name == "a":
            _write_rows(spark, loc, 4, fmt, mode="append")

    monkeypatch.setattr(Engine, "_execute_node", land_after_a)
    eng = Engine(root, spark=spark)
    r = eng.invoke(["run", "--threads", "1"])
    assert r.success, [x.message for x in r.results]
    assert eng.store.read("main", "a").collect()[0]["n"] == 3
    assert eng.store.read("main", "b").collect()[0]["n"] == 7


def test_alternating_invocations_read_their_own_source(spark, tmp_path):
    """Two projects declare the same source name over different locations;
    invocations alternating on one session each read their own files."""
    def build_in(root):
        def build(files):
            for rel, content in files.items():
                path = root / rel
                path.parent.mkdir(parents=True, exist_ok=True)
                path.write_text(content)
            return str(root)
        return build

    engines = []
    for i, n in enumerate((2, 5)):
        loc = str(tmp_path / f"orders_{i}")
        _write_rows(spark, loc, n, "parquet")
        root = _source_project(build_in(tmp_path / f"proj_{i}"), f"alt{i}", loc)
        engines.append((Engine(root, spark=spark), n))
    for _ in range(2):
        for eng, n in engines:
            r = eng.invoke(["run"])
            assert r.success, [x.message for x in r.results]
            assert [eng.store.read("main", m).collect()[0]["n"]
                    for m in ("a", "b")] == [n, n]


def test_concurrent_source_registration_keeps_the_latest_scan(spark,
                                                              tmp_path):
    """Runner threads register the same source while its files change: after
    each round the temp view holds the scan the memo says it holds, so the
    next registration of an unchanged listing may skip its swap."""
    import os
    import sys
    import threading
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_spark.catalog import RelationStore
    from dbt_spark.plans.manifest import Manifest
    from dbt_spark.project import Project

    loc = tmp_path / "landing"
    loc.mkdir()
    landed = [0]

    def land() -> None:  # atomic: written aside, renamed in
        i = landed[0]
        tmp = tmp_path / f"part-{i}.tmp"
        pq.write_table(pa.table({"k": pa.array([i], pa.int64())}), tmp)
        os.replace(tmp, loc / f"part-{i:03d}.parquet")
        landed[0] += 1

    land()
    project = Project(name="stress", root=str(tmp_path),
                      profile={"warehouse": str(tmp_path / "wh"),
                               "schema": "main"})
    ctx = ExecutionContext(
        spark=spark, store=RelationStore(spark, str(tmp_path / "wh")),
        manifest=Manifest(project_name="stress"), project=project)
    ident = "src__stress__landing"
    errors: list[BaseException] = []

    def register_loop() -> None:
        try:
            for _ in range(10):
                ctx._register_location(ident, str(loc), "parquet")
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    def land_loop() -> None:
        for _ in range(2):
            time.sleep(0.01)
            land()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(3):
            threads = [threading.Thread(target=register_loop)
                       for _ in range(8)]
            threads.append(threading.Thread(target=land_loop))
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads)
            assert not errors, errors
            assert sorted(spark.table(ident).inputFiles()) == sorted(
                ctx._location_scans[ident].inputFiles())
    finally:
        sys.setswitchinterval(old)
    ctx._register_location(ident, str(loc), "parquet")
    assert spark.table(ident).count() == landed[0]


def test_source_swap_and_memo_entry_are_one_step(spark, tmp_path,
                                                 monkeypatch):
    """Forced interleaving of two runner threads: B read the source before a
    file landed, A after it, and B's swap comes after A's. The view and the
    memo must still agree (the swap and its memo entry happen under one
    lock), or a later registration would skip the swap and read old rows."""
    import os
    import threading
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    import dbt_spark.session as session
    from dbt_spark.catalog import RelationStore
    from dbt_spark.plans.manifest import Manifest
    from dbt_spark.project import Project

    loc = tmp_path / "landing"
    loc.mkdir()

    def land(i: int) -> None:
        tmp = tmp_path / f"part-{i}.tmp"
        pq.write_table(pa.table({"k": pa.array([i], pa.int64())}), tmp)
        os.replace(tmp, loc / f"part-{i}.parquet")

    land(0)
    project = Project(name="order", root=str(tmp_path),
                      profile={"warehouse": str(tmp_path / "wh"),
                               "schema": "main"})
    ctx = ExecutionContext(
        spark=spark, store=RelationStore(spark, str(tmp_path / "wh")),
        manifest=Manifest(project_name="order"), project=project)
    ident = "src__order__landing"
    a_swapped, b_swapped = threading.Event(), threading.Event()
    b_read = threading.Event()
    df_cls = type(spark.range(0))
    swap, read = df_cls.createOrReplaceTempView, session.read_parquet

    def ordered_read(*a, **kw):
        df = read(*a, **kw)
        if threading.current_thread().name == "B":
            b_read.set()
            a_swapped.wait(10)
        return df

    def ordered_swap(self, name):
        swap(self, name)
        if threading.current_thread().name == "A":
            a_swapped.set()
            b_swapped.wait(2)  # times out when B waits on the lock
            time.sleep(0.05)   # B's memo entry first, if B got there
        else:
            b_swapped.set()

    monkeypatch.setattr(session, "read_parquet", ordered_read)
    monkeypatch.setattr(df_cls, "createOrReplaceTempView", ordered_swap)

    def register() -> None:
        ctx._register_location(ident, str(loc), "parquet")

    b = threading.Thread(target=register, name="B")
    b.start()
    assert b_read.wait(60)
    land(1)
    a = threading.Thread(target=register, name="A")
    a.start()
    for t in (a, b):
        t.join(timeout=60)
    assert not a.is_alive() and not b.is_alive()
    assert sorted(spark.table(ident).inputFiles()) == sorted(
        ctx._location_scans[ident].inputFiles())
    register()
    assert spark.table(ident).count() == 2
