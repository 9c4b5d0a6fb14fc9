"""Artifact schema fidelity: written manifest.json / run_results.json validate
against the reference's PUBLISHED jsonschemas
(/root/reference/schemas/dbt/manifest/v12.json, run-results/v5.json) — the
contract ecosystem tools (docs sites, metadata APIs) check against."""

import json
import os

import jsonschema
import pytest

from dbt_spark.runner import Engine
from tests.conftest import SF_DIR, needs_schemas

MANIFEST_SCHEMA = "/root/reference/schemas/dbt/manifest/v12.json"
RUN_RESULTS_SCHEMA = "/root/reference/schemas/dbt/run-results/v5.json"

PROJECT = {
    "dbt_project.yml": "name: arts\n",
    "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: orders
        meta: {location: "__SF__/orders.parquet"}

models:
  - name: base
    columns:
      - name: id
        data_tests: [not_null, unique]

unit_tests:
  - name: ut_base
    model: base
    given:
      - input: source('tpch', 'orders')
        rows:
          - {o_orderkey: 7}
    expect:
      rows:
        - {id: 7}

semantic_models:
  - name: sem_base
    model: ref('base')
    entities:
      - name: id
        type: primary
    measures:
      - name: n_rows
        agg: sum
        expr: 1

metrics:
  - name: row_total
    label: Row total
    type: simple
    type_params: {measure: n_rows}
  - name: row_total_2x
    label: Doubled
    type: derived
    type_params:
      expr: row_total * 2
      metrics: [row_total]

saved_queries:
  - name: sq_rows
    query_params:
      metrics: [row_total]
    exports:
      - name: rows_export
        config: {export_as: table}

exposures:
  - name: dash
    type: dashboard
    owner: {email: a@b.c}
    depends_on: ["ref('base')"]

groups:
  - name: core
    owner: {name: Core}
""".replace("__SF__", SF_DIR),
    "models/base.sql": "select o_orderkey as id from {{ source('tpch','orders') }}",
    "models/docs.md": "{% docs base_doc %}Base model{% enddocs %}",
    "tests/singular_neg.sql": "select * from {{ ref('base') }} where id < 0",
}


@pytest.fixture(scope="module")
def built(tmp_path_factory, spark):
    root = str(tmp_path_factory.mktemp("arts"))
    for rel, content in PROJECT.items():
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content)
    eng = Engine(root, spark=spark)
    r = eng.invoke(["build"])
    assert r.success, [x for x in r.results if x.status not in ("success", "pass")]
    return root, eng


def _errors(doc, schema_path):
    schema = json.load(open(schema_path))
    return list(jsonschema.Draft7Validator(schema).iter_errors(doc))


@needs_schemas(MANIFEST_SCHEMA)
def test_manifest_validates_against_v12(built):
    root, _ = built
    doc = json.load(open(os.path.join(root, "target", "manifest.json")))
    errs = _errors(doc, MANIFEST_SCHEMA)
    assert errs == [], "\n".join(
        f"{list(e.absolute_path)[:5]} -> {e.message[:160]}" for e in errs[:25]
    )
    # sections routed correctly
    assert "metric.arts.row_total" in doc["metrics"]
    assert "semantic_model.arts.sem_base" in doc["semantic_models"]
    assert "saved_query.arts.sq_rows" in doc["saved_queries"]
    assert "exposure.arts.dash" in doc["exposures"]
    assert "group.arts.core" in doc["groups"]
    assert any(uid.startswith("unit_test.") for uid in doc["unit_tests"])
    assert "doc.arts.base_doc" in doc["docs"]
    # graph maps include semantic edges
    assert "semantic_model.arts.sem_base" in doc["parent_map"]["metric.arts.row_total"]
    assert "metric.arts.row_total" in doc["child_map"]["semantic_model.arts.sem_base"]


@needs_schemas(RUN_RESULTS_SCHEMA)
def test_run_results_validates_against_v5(built):
    root, _ = built
    doc = json.load(open(os.path.join(root, "target", "run_results.json")))
    errs = _errors(doc, RUN_RESULTS_SCHEMA)
    assert errs == [], "\n".join(
        f"{list(e.absolute_path)[:5]} -> {e.message[:160]}" for e in errs[:25]
    )
    assert doc["results"], "no results recorded"
    assert all(r["thread_id"] for r in doc["results"])


def test_state_selectors_work_on_v12_manifest(built, tmp_path):
    """state:modified[.macros] must keep working against the richer artifact
    (the FileHash checksum object + Macro-object macros section)."""
    import shutil

    root, eng = built
    state = str(tmp_path / "state")
    os.makedirs(state)
    shutil.copy(os.path.join(root, "target", "manifest.json"), state)
    shutil.copy(os.path.join(root, "target", "run_results.json"), state)
    r = eng.invoke(["ls", "--select", "state:modified", "--state", state])
    assert [x.unique_id for x in r.results] == []
    with open(os.path.join(root, "models", "base.sql"), "a") as f:
        f.write("  -- touched")
    try:
        r = eng.invoke(["ls", "--select", "state:modified", "--state", state])
        assert "model.arts.base" in {x.unique_id for x in r.results}
        # result:<status> selector reads the v5 run_results
        r = eng.invoke(["ls", "--select", "result:success", "--state", state])
        assert "model.arts.base" in {x.unique_id for x in r.results}
    finally:
        # restore source so the module-scoped fixture stays clean
        src = os.path.join(root, "models", "base.sql")
        with open(src) as f:
            content = f.read()
        with open(src, "w") as f:
            f.write(content.replace("  -- touched", ""))


def test_run_results_adapter_response_and_relation_name(project_dir, spark):
    """run_results carries the reference's adapter_response observability
    (rows_affected from parquet footers, bytes/files from a driver walk) and
    relation_name for materialized nodes — and stays v5-schema-valid."""
    files = {
        "dbt_project.yml": "name: arp\n",
        "seeds/nums.csv": "n\n1\n2\n3\n4\n",
        "models/t.sql": "{{ config(materialized='table') }} "
                        "select n from {{ ref('nums') }} where n > 1",
        "models/v.sql": "select 1 as x",  # view: no physical files
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["build"]).success
    doc = json.load(open(os.path.join(root, "target", "run_results.json")))
    by_id = {r["unique_id"]: r for r in doc["results"]}
    t = by_id["model.arp.t"]
    assert t["relation_name"] == "main.t"
    assert t["adapter_response"]["rows_affected"] == 3
    assert t["adapter_response"]["bytes_processed"] > 0
    assert t["adapter_response"]["files"] >= 1
    assert by_id["model.arp.v"]["adapter_response"] == {}  # views: no files
    seed = by_id["seed.arp.nums"]
    assert seed["adapter_response"]["rows_affected"] == 4
