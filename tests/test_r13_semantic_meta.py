"""Round-13: 1.10 semantic-layer metadata plumbing into manifest v12.

- dimensions / measures / entities carry `config: {meta: {...}}`
  (SemanticLayerElementConfig — reference
  core/dbt/artifacts/resources/v1/semantic_model.py:34-39,
  .changes/unreleased/Features-20250106-132829.yaml)
- saved queries carry `tags` (entry-level list-or-string unioned with
  config tags, sorted unique — schema_yaml_readers.py:826-834,
  .changes/unreleased/Features-20241216-095435.yaml)

Seeds vary the meta payloads and tag spellings; every manifest must
validate STRICTLY against the reference's published v12 jsonschema and
survive write → reparse → write byte-equal (modulo volatile metadata).
"""

from __future__ import annotations

import json
import os
import random

import jsonschema
import pytest

from dbt_spark.project import Project, parse_project
from tests.conftest import needs_schemas

_OFF = int(os.environ.get("DBT_SPARK_FUZZ_OFFSET", "0"))
_BASE = 370_000

MANIFEST_SCHEMA = "/root/reference/schemas/dbt/manifest/v12.json"


def _yml(rng: random.Random) -> str:
    dim_meta = {"owner": f"team-{rng.randrange(5)}", "pii": rng.random() < 0.5}
    meas_meta = {"unit": rng.choice(["usd", "count", "days"])}
    ent_meta = {"join_hint": rng.choice(["broadcast", "shuffle"])}
    sq_tags = rng.sample(["finance", "daily", "gold", "wip"], rng.randrange(1, 4))
    cfg_tags = rng.sample(["finance", "audited"], rng.randrange(0, 3))
    tags_yaml = (
        f"    tags: {json.dumps(sq_tags)}\n" if rng.random() < 0.7
        # string form: the schema admits a bare string too
        else f"    tags: {sq_tags[0]}\n"
    )
    cfg_yaml = (
        f"    config: {{tags: {json.dumps(cfg_tags)}}}\n" if cfg_tags else ""
    )
    return f"""
semantic_models:
  - name: sem_people
    model: ref('people')
    dimensions:
      - name: favorite_color
        type: categorical
        config:
          meta: {json.dumps(dim_meta)}
      - name: created_at
        type: time
        type_params:
          time_granularity: day
    measures:
      - name: people
        agg: count
        expr: id
        create_metric: true
        config:
          meta: {json.dumps(meas_meta)}
    entities:
      - name: id
        type: primary
        config:
          meta: {json.dumps(ent_meta)}
    defaults:
      agg_time_dimension: created_at

saved_queries:
  - name: people_report
{tags_yaml}{cfg_yaml}    query_params:
      metrics: [people]
      group_by: []
"""


def _write_project(root: str, rng: random.Random) -> None:
    os.makedirs(os.path.join(root, "models"), exist_ok=True)
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: semmeta\n")
    with open(os.path.join(root, "models", "people.sql"), "w") as f:
        f.write("select 1 as id, 'red' as favorite_color, "
                "timestamp'2024-01-01' as created_at")
    with open(os.path.join(root, "models", "sem.yml"), "w") as f:
        f.write(_yml(rng))


@needs_schemas(MANIFEST_SCHEMA)
@pytest.mark.parametrize("seed", range(6))
def test_semantic_meta_and_tags_roundtrip_v12(seed, tmp_path):
    rng = random.Random(_BASE + _OFF + seed)
    root = str(tmp_path)
    _write_project(root, rng)
    man = parse_project(Project.load(root), cache=None)
    out = os.path.join(root, "target", "manifest.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    man.write(out)
    doc = json.load(open(out))

    # strict v12 validation
    schema = json.load(open(MANIFEST_SCHEMA))
    errs = list(jsonschema.Draft7Validator(schema).iter_errors(doc))
    assert errs == [], f"seed={seed}: " + "\n".join(
        f"{list(e.absolute_path)[:6]} -> {e.message[:160]}" for e in errs[:10])

    sm = doc["semantic_models"]["semantic_model.semmeta.sem_people"]
    # element meta survived into the manifest dicts
    dim_cfgs = {d["name"]: d.get("config") for d in sm["dimensions"]}
    assert dim_cfgs["favorite_color"] is not None
    assert set(dim_cfgs["favorite_color"]["meta"]) == {"owner", "pii"}
    # a dimension without config emits no config key (schema default null)
    assert dim_cfgs.get("created_at") is None
    meas = {x["name"]: x for x in sm["measures"]}
    assert meas["people"]["config"]["meta"]["unit"] in ("usd", "count", "days")
    ent = {x["name"]: x for x in sm["entities"]}
    assert "join_hint" in ent["id"]["config"]["meta"]

    sq = doc["saved_queries"]["saved_query.semmeta.people_report"]
    assert isinstance(sq["tags"], list) and len(sq["tags"]) >= 1
    assert sq["tags"] == sorted(set(sq["tags"]))

    # write → reparse → write: stable (volatile metadata aside)
    man2 = parse_project(Project.load(root), cache=None)
    out2 = os.path.join(root, "target", "manifest2.json")
    man2.write(out2)
    d1, d2 = json.load(open(out)), json.load(open(out2))
    d1.pop("metadata", None), d2.pop("metadata", None)
    assert d1 == d2
