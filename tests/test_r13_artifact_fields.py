"""Round-13: 1.10 artifact-surface parity —

- doc_blocks on nodes, columns, and sources: unique_ids of resolving
  {{ doc('name') }} description references (reference
  core/dbt/parser/manifest.py:1662-1697 _get_doc_blocks,
  .changes/unreleased/Features-20250122-170328.yaml)
- metadata.invocation_id + metadata.invocation_started_at in manifest
  and catalog (reference artifacts/schemas/base.py:58-62,
  .changes/unreleased/'Breaking Changes-20250210-123306.yaml'); the
  published run-results v5 schema PREDATES the field, so that artifact
  must omit it to stay strict

All artifacts validate strictly against the reference's published
schemas.
"""

from __future__ import annotations

import json
import os

import jsonschema

from tests.conftest import needs_schemas

MANIFEST_SCHEMA = "/root/reference/schemas/dbt/manifest/v12.json"
CATALOG_SCHEMA = "/root/reference/schemas/dbt/catalog/v1.json"
RUN_RESULTS_SCHEMA = "/root/reference/schemas/dbt/run-results/v5.json"

DOCS_MD = """
{% docs orders_doc %}
All shippable orders.
{% enddocs %}

{% docs key_doc %}
Primary key.
{% enddocs %}
"""

SCHEMA_YML = """
models:
  - name: orders_m
    description: "{{ doc('orders_doc') }} Twice: {{ doc('orders_doc') }}"
    columns:
      - name: k
        description: "{{ doc('key_doc') }}"
      - name: v
        description: "plain text, no doc ref"

sources:
  - name: ext
    tables:
      - name: raw_orders
        description: "{{ doc('orders_doc') }}"
        meta: {location: "/tmp/nonexistent.parquet"}
"""


def _validate(doc, schema_path):
    schema = json.load(open(schema_path))
    return list(jsonschema.Draft7Validator(schema).iter_errors(doc))


@needs_schemas(MANIFEST_SCHEMA)
def test_doc_blocks_on_nodes_columns_sources(project_dir, spark):
    from dbt_spark.runner import Engine

    files = {
        "dbt_project.yml": "name: docblk\n",
        "models/docs.md": DOCS_MD,
        "models/schema.yml": SCHEMA_YML,
        "models/orders_m.sql": "select 1 as k, 'a' as v",
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["parse"]).success
    doc = json.load(open(os.path.join(root, "target", "manifest.json")))
    errs = _validate(doc, MANIFEST_SCHEMA)
    assert errs == [], "\n".join(e.message[:140] for e in errs[:10])

    node = doc["nodes"]["model.docblk.orders_m"]
    # appended per occurrence, like the reference (no dedup)
    assert node["doc_blocks"] == ["doc.docblk.orders_doc",
                                  "doc.docblk.orders_doc"]
    assert "All shippable orders." in node["description"]
    assert "{{" not in node["description"]
    cols = node["columns"]
    assert cols["k"]["doc_blocks"] == ["doc.docblk.key_doc"]
    assert cols["k"]["description"] == "Primary key."
    assert cols["v"]["doc_blocks"] == []
    src = doc["sources"]["source.docblk.ext.raw_orders"]
    assert src["doc_blocks"] == ["doc.docblk.orders_doc"]
    assert src["description"] == "All shippable orders."
    # the referenced docs exist in the manifest docs section
    assert "doc.docblk.orders_doc" in doc["docs"]


def test_unresolvable_doc_ref_yields_no_block(project_dir, spark):
    from dbt_spark.runner import Engine

    files = {
        "dbt_project.yml": "name: nodoc\n",
        "models/schema.yml": (
            "models:\n  - name: m\n"
            "    description: \"{{ doc('missing_doc') }}\"\n"
        ),
        "models/m.sql": "select 1 as x",
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["parse"]).success
    doc = json.load(open(os.path.join(root, "target", "manifest.json")))
    assert doc["nodes"]["model.nodoc.m"]["doc_blocks"] == []


@needs_schemas(MANIFEST_SCHEMA, CATALOG_SCHEMA, RUN_RESULTS_SCHEMA)
def test_invocation_metadata_in_artifacts(project_dir, spark):
    from dbt_spark.runner import Engine

    files = {
        "dbt_project.yml": "name: invmeta\n",
        "models/m.sql": "select 1 as x",
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["run"]).success
    assert eng.invoke(["docs", "generate"]).success

    man = json.load(open(os.path.join(root, "target", "manifest.json")))
    assert man["metadata"]["invocation_id"] == eng.events.invocation_id
    started = man["metadata"]["invocation_started_at"]
    assert isinstance(started, str) and started.startswith("20")
    assert started == eng.events.invocation_started_at
    assert _validate(man, MANIFEST_SCHEMA) == []

    cat = json.load(open(os.path.join(root, "target", "catalog.json")))
    assert cat["metadata"]["invocation_started_at"] == started
    assert _validate(cat, CATALOG_SCHEMA) == []

    rr = json.load(open(os.path.join(root, "target", "run_results.json")))
    # v5 published schema predates the field: strictness requires absence
    assert "invocation_started_at" not in rr["metadata"]
    assert _validate(rr, RUN_RESULTS_SCHEMA) == []


def test_pathological_description_never_crashes_parse(project_dir, spark):
    """Reference Fixes-20250218-134745: _get_doc_blocks crashed parsing
    when .format was called on a doc reference — arbitrary jinja runtime
    errors in descriptions must degrade to raw text, not crash."""
    from dbt_spark.runner import Engine

    files = {
        "dbt_project.yml": "name: patho\n",
        "models/docs.md": "{% docs d %}text{% enddocs %}\n",
        "models/schema.yml": (
            "models:\n  - name: m\n"
            "    description: \"{{ doc('d') + 5 }}\"\n"
            "    columns:\n      - name: x\n"
            "        description: \"{{ doc('d').format('y') }}\"\n"
        ),
        "models/m.sql": "select 1 as x",
    }
    eng = Engine(project_dir(files), spark=spark)
    assert eng.invoke(["parse"]).success
