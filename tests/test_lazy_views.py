"""Lazy view registration + static render plan (r14 run_2000_models work).

The engine registers view relations lazily (catalog.py: identifier -> SQL,
realized on first referencing statement or at end of run) and renders
provably-static model templates from the parsed AST instead of compiling
jinja. These tests pin the semantics the optimization must preserve:
- a statement referencing a lazy view transparently realizes it (and its
  pending upstream chain);
- a broken view still fails ITS OWN node within the run that built it;
- the static render plan produces byte-identical output to a full jinja
  render for every static shape, and refuses anything non-static.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dbt_spark.runner import Engine  # noqa: E402


def test_lazy_view_realized_on_first_reference(project_dir, spark):
    pdir = project_dir({
        "dbt_project.yml": "name: lazyv\n",
        "models/v1.sql": "select 1 as id, 'x' as tag",
        "models/v2.sql": "select * from {{ ref('v1') }}",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    # both registered lazily, realized by the end-of-run flush
    assert not eng.store._lazy_views
    assert spark.sql("select count(*) c from main__v2").collect()[0]["c"] == 1


def test_lazy_chain_flushes_dependencies_first(project_dir, spark):
    # a downstream TABLE materialization forces the pending view chain to
    # realize mid-run, in dependency order
    pdir = project_dir({
        "dbt_project.yml": "name: lazyc\n",
        "models/a.sql": "select 7 as id",
        "models/b.sql": "select * from {{ ref('a') }}",
        "models/c.sql": (
            "{{ config(materialized='table') }}\n"
            "select id + 1 as id2 from {{ ref('b') }}"
        ),
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    rows = eng.store.read("main", "c").collect()
    assert [r["id2"] for r in rows] == [8]


def test_broken_view_fails_its_own_node(project_dir, spark):
    pdir = project_dir({
        "dbt_project.yml": "name: lazybroke\n",
        "models/fine.sql": "select 1 as id",
        "models/broken.sql": "select * from table_that_does_not_exist_xyz",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["run"])
    assert not r.success
    statuses = {x.unique_id: x.status for x in r.results}
    assert statuses["model.lazybroke.broken"] == "error"
    assert statuses["model.lazybroke.fine"] == "success"


def test_orphaned_broken_view_fails_the_run(project_dir, spark):
    """A lazy view whose owner is not in the run (an upstream view that a
    subset run re-registers) still fails the invocation when it cannot
    be created, and the failure is reported as an error event."""
    pdir = project_dir({
        "dbt_project.yml": "name: lazyorphan\n",
        "models/g.sql": "select 1 as id",
        "models/p.sql": (
            "{{ config(materialized='table') }}\n"
            "select * from {{ ref('g') }}"),
        "models/c.sql": (
            "{{ config(materialized='table') }}\n"
            "select * from {{ ref('p') }}"),
    })
    assert Engine(pdir, spark=spark).invoke(["run"]).success
    # a fresh session's view of the warehouse, with g's stored SQL broken
    eng = Engine(pdir, spark=spark)
    eng.store.get("main", "g").compiled_sql = (
        "select id from table_that_does_not_exist_orphan")
    errors: list = []
    eng.events.callbacks.append(
        lambda ev: ev.name == "RunResultError" and errors.append(ev.msg))
    r = eng.invoke(["run", "--select", "c"])
    assert [x.status for x in r.results] == ["success"]
    assert not r.success
    assert any("main__g" in m for m in errors), errors


def test_static_render_matches_full_jinja_render():
    import jinja2

    from dbt_spark.plans.static_parser import static_render_parts

    env = jinja2.Environment(keep_trailing_newline=True)

    def full_render(raw: str) -> str:
        return env.from_string(raw).render(
            ref=lambda *a, **k: f"REF<{a[-1]}>",
            source=lambda s, t: f"SRC<{s}.{t}>",
            config=lambda *a, **k: "",
        )

    def plan_render(raw: str) -> str:
        plan = static_render_parts(raw)
        assert plan is not None, raw
        out = []
        for p in plan:
            if isinstance(p, str):
                out.append(p)
            elif p[0] == "ref":
                out.append(f"REF<{p[2]}>")
            elif p[0] == "source":
                out.append(f"SRC<{p[1]}.{p[2]}>")
            else:
                out.append("")
        return "".join(out)

    cases = [
        "select * from {{ ref('a') }}",
        "select * from {{ ref('pkg', 'a') }} x\n join {{ ref('b') }} y\n",
        "{{ config(materialized='view', tags=['x']) }}select 1 as id",
        "  leading text {{ source('raw', 'events') }} trailing\n\n",
        "no jinja at all\n",
        "{{ config(meta={'k': [1, 2]}) }}\nselect * from {{ ref('m') }}",
    ]
    for raw in cases:
        assert plan_render(raw) == full_render(raw), raw
    # versioned ref folds the version into the name (parser convention)
    plan = static_render_parts("select {{ ref('m', version=2) }}")
    assert ("ref", None, "m_v2") in plan

    for raw in [
        "{% set x = 1 %}select {{ x }}",
        "select {{ this }}",
        "select {{ config.get('k') }}",
        "select {{ ref(var('name')) }}",
        "{% if true %}select 1{% endif %}",
    ]:
        assert static_render_parts(raw) is None, raw


def _lazy_store(spark, tmp_path):
    from dbt_spark.catalog import RelationStore

    return RelationStore(spark, str(tmp_path / "wh"))


def _lazy_view(store, name: str, sql: str) -> str:
    from dbt_spark.catalog import Relation

    return store.register(Relation(schema="lz", name=name, kind="view",
                                   compiled_sql=sql))


def test_long_pending_chain_flushes_without_recursion(spark, tmp_path):
    """One statement consuming the tail of a pending chain longer than the
    interpreter's recursion limit realizes the whole chain."""
    import inspect

    store = _lazy_store(spark, tmp_path)
    depth = 150
    prev = _lazy_view(store, "deep0", "select 1 as id")
    for i in range(1, depth):
        prev = _lazy_view(store, f"deep{i}", f"select id + 1 as id from {prev}")
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(len(inspect.stack()) + 100)
    try:
        store.ensure_registered_for(f"select id from {prev}")
    finally:
        sys.setrecursionlimit(limit)
    assert not store._lazy_views
    assert spark.sql(f"select id from {prev}").collect()[0]["id"] == depth


def test_lazy_view_matched_case_insensitively(spark, tmp_path):
    """Spark identifiers are case-insensitive, so a statement naming a
    pending view in upper case must realize it (and its pending deps)."""
    store = _lazy_store(spark, tmp_path)
    up = _lazy_view(store, "casefold_up", "select 41 as id")
    down = _lazy_view(store, "casefold_down",
                      f"select id + 1 as id from {up.upper()}")
    sql = f"select id from {down.upper()}"
    store.ensure_registered_for(sql)
    assert spark.sql(sql).collect()[0]["id"] == 42
    assert not store._lazy_views
