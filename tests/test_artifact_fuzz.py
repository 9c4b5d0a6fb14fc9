"""Manifest-artifact fuzz: random projects must serialize to manifest.json
documents that validate STRICTLY against the reference's published v12
jsonschema (/root/reference/schemas/dbt/manifest/v12.json) and write
idempotently (write → reload → write is byte-identical).

Reuses the partial-parse fuzz world generator (random models with
refs/sources/config calls/macro calls, schema patches + generic tests,
multi-block snapshots, singular tests, seeds) so the schema check sweeps a
far wider structural space than the single curated project in
test_artifacts.py. Spark-free. Family base 260k rotated by
DBT_SPARK_FUZZ_OFFSET.
"""

from __future__ import annotations

import json
import os
import random

import jsonschema
import pytest

from dbt_spark.project import Project, parse_project
from tests.conftest import needs_schemas
from tests.test_partial_parse_fuzz import (
    ENV_NAME,
    _gen_state,
    _mutate,
    _render_files,
    _write_tree,
)

_OFF = int(os.environ.get("DBT_SPARK_FUZZ_OFFSET", "0"))
_BASE = 260_000

MANIFEST_SCHEMA = "/root/reference/schemas/dbt/manifest/v12.json"


def _validate(doc) -> list:
    schema = json.load(open(MANIFEST_SCHEMA))
    return list(jsonschema.Draft7Validator(schema).iter_errors(doc))


@needs_schemas(MANIFEST_SCHEMA)
@pytest.mark.parametrize("seed", [_BASE + _OFF + i for i in range(10)])
def test_random_project_manifest_validates_v12(seed, tmp_path, monkeypatch):
    rng = random.Random(seed)
    state = _gen_state(rng)
    # a couple of mutations diversify structure beyond fresh-world shapes
    for _ in range(rng.randrange(0, 3)):
        _mutate(rng, state)
    monkeypatch.setenv(ENV_NAME, state["env_val"])
    root = str(tmp_path)
    _write_tree(root, _render_files(state), set())
    man = parse_project(Project.load(root), cache=None)
    out = os.path.join(root, "target", "manifest.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    man.write(out)
    doc = json.load(open(out))
    errs = _validate(doc)
    assert errs == [], f"seed={seed}: " + "\n".join(
        f"{list(e.absolute_path)[:6]} -> {e.message[:160]}" for e in errs[:20]
    )
    # write is deterministic given the manifest content sections: a second
    # write of the same parse differs only in volatile metadata
    out2 = os.path.join(root, "target", "manifest2.json")
    man.write(out2)
    d1, d2 = json.load(open(out)), json.load(open(out2))
    d1.pop("metadata", None), d2.pop("metadata", None)
    assert d1 == d2


CATALOG_SCHEMA = "/root/reference/schemas/dbt/catalog/v1.json"
RUN_RESULTS_SCHEMA = "/root/reference/schemas/dbt/run-results/v5.json"


@needs_schemas(CATALOG_SCHEMA, RUN_RESULTS_SCHEMA)
@pytest.mark.parametrize("seed", [_BASE + _OFF + 100 + i for i in range(4)])
def test_random_project_catalog_and_run_results_validate(
    seed, tmp_path, monkeypatch, spark
):
    """Full engine pass over random worlds: run models, docs generate, and
    validate catalog.json (v1) + run_results.json (v5) strictly against the
    reference's published schemas — the executable twin of the manifest
    fuzz above (models only: fuzz snapshots reference columns their
    upstream may not produce)."""
    from dbt_spark.runner import Engine

    rng = random.Random(seed)
    state = _gen_state(rng)
    monkeypatch.setenv(ENV_NAME, state["env_val"])
    root = str(tmp_path)
    files = _render_files(state)
    files.pop("snapshots/snaps.sql", None)
    _write_tree(root, files, set())
    eng = Engine(root, spark=spark)
    r = eng.invoke(["run"])
    assert r.success, (seed, [x.message for x in r.results][:3])
    assert eng.invoke(["docs", "generate"]).success
    for rel, schema in (("catalog.json", CATALOG_SCHEMA),
                        ("run_results.json", RUN_RESULTS_SCHEMA)):
        doc = json.load(open(os.path.join(root, "target", rel)))
        errs = _validate_against(doc, schema)
        assert errs == [], f"seed={seed} {rel}: " + "\n".join(
            f"{list(e.absolute_path)[:6]} -> {e.message[:140]}"
            for e in errs[:10]
        )


def _validate_against(doc, schema_path) -> list:
    schema = json.load(open(schema_path))
    return list(jsonschema.Draft7Validator(schema).iter_errors(doc))
