"""Static-parser fast path (plans/static_parser.py) — reference parity for
core/dbt/parser/models.py:379-466 (run_static_parser + sampling mode):
provably-static templates skip the Jinja render; anything dynamic falls back;
sample mode proves both paths agree."""

from __future__ import annotations

import os

import pytest

from dbt_spark.plans.compile import parse_render
from dbt_spark.plans.static_parser import extract_or_render, static_extract


def test_static_extracts_refs_sources_config():
    sql = """
{{ config(materialized='incremental', unique_key='id', tags=['a', 'b'],
          meta={'owner': 'data'}) }}
select o.id, c.name
from {{ ref('orders') }} o
join {{ ref('pkg', 'customers') }} c on o.cid = c.id
join {{ source('tpch', 'nation') }} n on c.nk = n.n_nationkey
"""
    got = static_extract(sql)
    assert got is not None
    refs, sources, config = got
    assert refs == [(None, "orders"), ("pkg", "customers")]
    assert sources == [("tpch", "nation")]
    assert config == {
        "materialized": "incremental", "unique_key": "id",
        "tags": ["a", "b"], "meta": {"owner": "data"},
    }


def test_static_versioned_ref_matches_rendered_path():
    sql = "select * from {{ ref('dim', version=2) }}"
    refs, _, _ = static_extract(sql)
    _, r_refs, _, _ = parse_render(sql, "m")
    assert refs == r_refs == [(None, "dim_v2")]


@pytest.mark.parametrize("sql", [
    "{% if execute %}x{% endif %} select 1",         # statement
    "select * from {{ ref(var('t')) }}",             # non-literal arg
    "select {{ config.get('x') }}",                  # attribute access
    "select {{ my_macro(1) }}",                      # macro call
    "{% set t = 'orders' %} select * from {{ ref(t) }}",
    "select {{ 'a' | upper }}",                      # filter
    "select * from {{ ref('a') }} {{ this }}",       # context name output
])
def test_dynamic_templates_refuse_static(sql):
    assert static_extract(sql) is None


def test_plain_sql_is_static():
    assert static_extract("select 1 as id") == ([], [], {})


# bodies spanning the static/dynamic boundary; sample mode asserts agreement
_BODIES = [
    "select 1 as id",
    "select * from {{ ref('a') }}",
    "{{ config(materialized='view') }} select * from {{ ref('p', 'b') }}",
    "select * from {{ source('s', 't') }} where x > 0",
    "{{ config(n=1, f=1.5, b=true, none_v=none) }} select 1",
    "select 1 as id union all select * from {{ ref('node_7') }}",
]


def test_sample_mode_agrees_with_render(monkeypatch):
    monkeypatch.setenv("DBT_SPARK_STATIC_PARSER", "sample")
    for body in _BODIES:
        got = extract_or_render(
            body, "m", lambda body=body: parse_render(body, "m"))
        _, refs, sources, config = parse_render(body, "m")
        assert got == (refs, sources, config)


def test_off_mode_always_renders(monkeypatch):
    monkeypatch.setenv("DBT_SPARK_STATIC_PARSER", "off")
    calls = []

    def render():
        calls.append(1)
        return parse_render("select * from {{ ref('a') }}", "m")

    got = extract_or_render("select * from {{ ref('a') }}", "m", render)
    assert calls and got[0] == [(None, "a")]


def test_engine_parse_same_manifest_static_vs_rendered(project_dir, monkeypatch):
    """End-to-end: the manifest built with the fast path is identical to the
    rendered one on a project mixing static and dynamic models."""
    from dbt_spark.project import Project, parse_project

    files = {
        "dbt_project.yml": "name: sp\n",
        "models/a.sql": "select 1 as id",
        "models/b.sql":
            "{{ config(materialized='table') }} select * from {{ ref('a') }}",
        # dynamic: needs the rendered path
        "models/c.sql":
            "{% set t = 'b' %}select * from {{ ref(t) }} where 1=1",
    }
    root = project_dir(files)

    def snapshot():
        m = parse_project(Project.load(root))
        return {
            uid: (sorted(map(tuple, n.refs)), sorted(map(tuple, n.sources)),
                  n.config.materialized)
            for uid, n in m.nodes.items()
        }

    monkeypatch.setenv("DBT_SPARK_STATIC_PARSER", "on")
    fast = snapshot()
    monkeypatch.setenv("DBT_SPARK_STATIC_PARSER", "off")
    slow = snapshot()
    assert fast == slow
    assert fast[f"model.sp.c"][0] == [(None, "b")]


def _runtime_render_counting(monkeypatch, mode, static_plan=None):
    """Render ``select * from {{ ref('a') }}`` through runtime_render under
    ``mode``; return (sql, number of full-context renders)."""
    from dbt_spark.plans import compile as compile_mod
    from dbt_spark.plans import static_parser
    from dbt_spark.plans.manifest import Manifest, ManifestNode, NodeType

    monkeypatch.setenv("DBT_SPARK_STATIC_PARSER", mode)
    if static_plan is not None:
        monkeypatch.setattr(static_parser, "static_render_parts",
                            lambda raw: static_plan)
    full = []
    base = compile_mod._base_context
    monkeypatch.setattr(compile_mod, "_base_context",
                        lambda *a, **k: full.append(1) or base(*a, **k))
    manifest = Manifest(project_name="rt")
    for name, raw in (("a", "select 1 as id"),
                      ("m", "select * from {{ ref('a') }}")):
        manifest.nodes[f"model.rt.{name}"] = ManifestNode(
            unique_id=f"model.rt.{name}", name=name, package_name="rt",
            path=f"{name}.sql", resource_type=NodeType.Model, raw_code=raw)
    sql = compile_mod.runtime_render(
        manifest.nodes["model.rt.m"], manifest,
        resolve_ref=lambda n: f"main__{n.name}",
        resolve_source=lambda n: "unused", this_name="main__m",
        is_incremental=False, full_refresh=False)
    return sql, len(full)


def test_runtime_render_honors_parser_mode(monkeypatch):
    """The runtime static-render fast path follows the static parser mode
    like the parse-time path: ``on`` skips the full jinja context, ``off``
    always builds it, ``sample`` renders both ways and agrees."""
    assert _runtime_render_counting(monkeypatch, "on") == (
        "select * from main__a", 0)
    assert _runtime_render_counting(monkeypatch, "off") == (
        "select * from main__a", 1)
    assert _runtime_render_counting(monkeypatch, "sample") == (
        "select * from main__a", 1)


def test_runtime_render_sample_mode_raises_on_disagreement(monkeypatch):
    """``sample`` cross-checks the static plan against the full render and
    raises on a mismatch, as extract_or_render does at parse time."""
    with pytest.raises(AssertionError, match="static render disagreement"):
        _runtime_render_counting(
            monkeypatch, "sample",
            static_plan=["select * from ", ("ref", None, "a"), " limit 0"])
