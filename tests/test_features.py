"""Functional tests for macros, unit tests, and secondary commands —
reference test-strategy layer 2 (SURVEY §5: inline fixtures + real commands).

Feature ↔ reference parity map:
- macros / run-operation: core/dbt/parser/macros.py:33-60, task/run_operation.py:29-80
- custom generic tests:   {% test %} blocks, parser/macros.py:97-99
- unit tests:             parser/unit_tests.py:60-198, task/test.py:205-283
- show:                   task/show.py:25-60,127-149
- docs generate:          task/docs/generate.py:73-114
- source freshness:       task/freshness.py:111-181
- state:modified/retry:   graph/selector_methods.py:610-700, task/retry.py:45-121
"""

import json
import os
import shutil

import pytest
import yaml

from dbt_spark.runner import Engine

from tests.conftest import SF_DIR, SF_DIR_MED


BASE = {
    "dbt_project.yml": "name: feat\n",
    "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: orders
        meta: {location: "__SF__/orders.parquet"}
        loaded_at_field: o_orderdate
        freshness:
          warn_after: {count: 9999, period: day}
""".replace("__SF__", SF_DIR),
    "models/amounts.sql": (
        "select o_orderkey, {{ cents_to_dollars('o_totalprice') }} as dollars "
        "from {{ source('tpch','orders') }}"
    ),
    "macros/util.sql": """
{% macro cents_to_dollars(col, precision=2) %}round({{ col }} / 100.0, {{ precision }}){% endmacro %}
{% test is_positive(model, column_name) %}select * from {{ model }} where {{ column_name }} <= 0{% endtest %}
{% macro count_rows(rel_name) %}
  {% set res = run_query("select count(*) as n from " ~ ref(rel_name)) %}
  {{ log("rows=" ~ res.rows[0][0]) }}
{% endmacro %}
""",
}


@pytest.fixture()
def feat(project_dir, spark):
    pdir = project_dir(BASE)
    return Engine(pdir, spark=spark), pdir


def test_macro_in_model_and_run_operation(feat):
    eng, pdir = feat
    r = eng.invoke(["run"])
    assert r.success
    df = eng.store.read("main", "amounts")
    assert df.columns == ["o_orderkey", "dollars"]
    # run-operation invokes a macro that run_query's a built relation
    r = eng.invoke(["run-operation", "count_rows", "--args", '{rel_name: amounts}'])
    assert r.success


def test_custom_generic_test_macro(feat, project_dir):
    eng, pdir = feat
    with open(os.path.join(pdir, "models", "sources.yml"), "a") as f:
        f.write(
            "models:\n  - name: amounts\n    columns:\n"
            "      - name: dollars\n        data_tests: [is_positive]\n"
        )
    r = eng.invoke(["build"])
    assert r.success
    assert any(x.unique_id.startswith("test.feat.is_positive") and x.status == "pass"
               for x in r.results)


def test_unit_test_pass_and_fail(feat):
    eng, pdir = feat
    with open(os.path.join(pdir, "models", "sources.yml"), "a") as f:
        f.write("""
unit_tests:
  - name: ut_amounts_math
    model: amounts
    given:
      - input: source('tpch', 'orders')
        rows:
          - {o_orderkey: 1, o_totalprice: 250}
    expect:
      rows:
        - {o_orderkey: 1, dollars: 2.5}
  - name: ut_amounts_wrong
    model: amounts
    given:
      - input: source('tpch', 'orders')
        rows:
          - {o_orderkey: 1, o_totalprice: 250}
    expect:
      rows:
        - {o_orderkey: 1, dollars: 99.0}
""")
    r = eng.invoke(["test", "--select", "ut_amounts_math"])
    assert r.success and r.results[0].status == "pass"
    r = eng.invoke(["test", "--select", "ut_amounts_wrong"])
    assert not r.success and r.results[0].status == "fail"
    assert "unexpected row" in r.results[0].message


def test_unit_test_array_map_columns(feat, project_dir):
    """Array/map-typed model output must not crash the driver-side multiset
    diff (Row cells arrive as unhashable Python lists/dicts) — ADVICE r2."""
    eng, pdir = feat
    with open(os.path.join(pdir, "models", "arrmodel.sql"), "w") as f:
        f.write(
            "select o_orderkey, array(o_orderkey, o_orderkey * 2) as pair, "
            "map('k', o_orderkey) as kv, "
            "case when o_orderkey > 1 then cast(null as array<bigint>) "
            "     else array(o_orderkey) end as maybe_null_arr "
            "from {{ source('tpch','orders') }}"
        )
    with open(os.path.join(pdir, "models", "sources.yml"), "a") as f:
        f.write("""
unit_tests:
  - name: ut_array_ok
    model: arrmodel
    given:
      - input: source('tpch', 'orders')
        rows:
          - {o_orderkey: 1}
          - {o_orderkey: 2}
    expect:
      rows:
        - {o_orderkey: 1, pair: [1, 2], kv: {k: 1}, maybe_null_arr: [1]}
        - {o_orderkey: 2, pair: [2, 4], kv: {k: 2}, maybe_null_arr: null}
  - name: ut_array_wrong
    model: arrmodel
    given:
      - input: source('tpch', 'orders')
        rows:
          - {o_orderkey: 1}
    expect:
      rows:
        - {o_orderkey: 1, pair: [9, 9], kv: {k: 1}, maybe_null_arr: [1]}
""")
    r = eng.invoke(["test", "--select", "ut_array_ok"])
    assert r.success and r.results[0].status == "pass", r.results[0].message
    r = eng.invoke(["test", "--select", "ut_array_wrong"])
    assert not r.success and r.results[0].status == "fail"
    assert "unexpected row" in r.results[0].message


def test_unit_test_blocks_model_in_build(feat):
    eng, pdir = feat
    with open(os.path.join(pdir, "models", "sources.yml"), "a") as f:
        f.write("""
unit_tests:
  - name: ut_block
    model: amounts
    given:
      - input: source('tpch', 'orders')
        rows:
          - {o_orderkey: 1, o_totalprice: 100}
    expect:
      rows:
        - {o_orderkey: 1, dollars: -1.0}
""")
    r = eng.invoke(["build"])
    assert not r.success
    model_result = r.by_id("model.feat.amounts")
    assert model_result.status == "skipped"


def test_show_inline_and_select(feat):
    eng, _ = feat
    eng.invoke(["run"])
    r = eng.invoke(["show", "--inline",
                    "select count(*) as n from {{ ref('amounts') }}"])
    assert r.success and r.preview[0]["n"] == 1500
    r = eng.invoke(["show", "--select", "amounts", "--limit", "3"])
    assert r.success and len(r.preview) == 3


def test_docs_generate_catalog(feat):
    eng, pdir = feat
    eng.invoke(["run"])
    r = eng.invoke(["docs", "generate"])
    assert r.success
    catalog = json.load(open(os.path.join(pdir, "target", "catalog.json")))
    entry = catalog["nodes"]["model.feat.amounts"]
    assert set(entry["columns"]) == {"o_orderkey", "dollars"}
    # views carry no storage stats — only the has_stats=False marker the
    # reference always emits (catalog v1 StatsItem shape)
    assert set(entry["stats"]) == {"has_stats"}
    assert entry["stats"]["has_stats"]["value"] is False

    # tables get footer-derived stats (row count from parquet metadata, no
    # scan; on-disk bytes) — reference catalog stats shape
    with open(os.path.join(pdir, "models", "amounts_tbl.sql"), "w") as f:
        f.write("{{ config(materialized='table') }} "
                "select * from {{ ref('amounts') }}")
    eng2 = Engine(pdir, spark=eng.spark)
    assert eng2.invoke(["run"]).success
    assert eng2.invoke(["docs", "generate"]).success
    catalog = json.load(open(os.path.join(pdir, "target", "catalog.json")))
    tbl = catalog["nodes"]["model.feat.amounts_tbl"]
    assert tbl["stats"]["row_count"]["value"] == 1500
    assert tbl["stats"]["bytes"]["value"] > 0


def test_source_freshness_artifact(feat):
    eng, pdir = feat
    r = eng.invoke(["source", "freshness"])
    # sf0.001 orders end ~1998; 9999-day warn threshold exceeded → warn|error
    assert r.results, "freshness produced no results"
    doc = json.load(open(os.path.join(pdir, "target", "sources.json")))
    assert doc["results"][0]["status"] in ("pass", "warn", "error")


def test_state_modified_and_retry(feat, tmp_path):
    eng, pdir = feat
    r = eng.invoke(["run"])
    assert r.success
    state = str(tmp_path / "state")
    os.makedirs(state, exist_ok=True)
    shutil.copy(os.path.join(pdir, "target", "manifest.json"), state)
    # unmodified → empty selection
    r = eng.invoke(["ls", "--select", "state:modified", "--state", state])
    assert [x.unique_id for x in r.results] == []
    with open(os.path.join(pdir, "models", "amounts.sql"), "a") as f:
        f.write("  -- touched")
    r = eng.invoke(["ls", "--select", "state:modified", "--state", state])
    assert [x.unique_id for x in r.results] == ["model.feat.amounts"]
    # retry with nothing failed is a no-op success
    r = eng.invoke(["retry"])
    assert r.success and len(r.results) == 0


def test_at_operator_selection(feat):
    eng, _ = feat
    r = eng.invoke(["ls", "--select", "@amounts"])
    ids = {x.unique_id for x in r.results}
    assert "model.feat.amounts" in ids


def test_local_packages_and_analyses(project_dir, spark, tmp_path):
    """Local packages merge models+macros into the root manifest
    (deps/local.py:26, resolver.py:28); analyses are compile-only."""
    pkg = tmp_path / "pkg_utils"  # inside the project root → `local: pkg_utils`
    (pkg / "models").mkdir(parents=True)
    (pkg / "macros").mkdir()
    (pkg / "dbt_project.yml").write_text("name: pkg_utils\n")
    (pkg / "macros" / "m.sql").write_text(
        "{% macro double_it(col) %}({{ col }} * 2){% endmacro %}"
    )
    (pkg / "models" / "pkg_orders.sql").write_text(
        "select o_orderkey, o_totalprice from {{ source('tpch','orders') }}"
    )
    pdir = project_dir({
        "dbt_project.yml": "name: rootp\n",
        "packages.yml": "packages:\n  - local: pkg_utils\n",
        "models/sources.yml": f"""
sources:
  - name: tpch
    tables:
      - name: orders
        meta: {{location: "{SF_DIR}/orders.parquet"}}
""",
        "models/uses_pkg.sql": (
            "select o_orderkey, {{ double_it('o_totalprice') }} as dbl "
            "from {{ ref('pkg_orders') }}"
        ),
        "analyses/ad_hoc.sql": "select count(*) as n from {{ ref('uses_pkg') }}",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["deps"])
    assert r.success, [x.message for x in r.results]
    m = eng.parse()
    assert "model.pkg_utils.pkg_orders" in m.nodes
    assert "analysis.rootp.ad_hoc" in m.nodes
    r = eng.invoke(["run"])
    assert r.success, [x.message for x in r.results]
    df = eng.store.read("main", "uses_pkg")
    assert df.columns == ["o_orderkey", "dbl"]
    # analyses compile but never run
    assert eng.store.get("main", "ad_hoc") is None
    r = eng.invoke(["compile", "--select", "ad_hoc"])
    assert r.success
    compiled = os.path.join(pdir, "target", "compiled", "analyses", "ad_hoc.sql")
    assert os.path.exists(compiled)


def test_structured_events_and_graph_summary(feat):
    """JSON-line event log + graph_summary.json artifacts
    (core/dbt/events pattern; compilation.py:679-689)."""
    eng, pdir = feat
    r = eng.invoke(["run"])
    assert r.success
    log_path = os.path.join(pdir, "target", "logs", "dbt.log.jsonl")
    events = [json.loads(x) for x in open(log_path)]
    names = [e["info"]["name"] for e in events]
    assert "NodeStart" in names and "NodeFinished" in names
    assert "CommandCompleted" in names
    fin = next(e for e in events if e["info"]["name"] == "NodeFinished")
    assert fin["data"]["node_id"] == "model.feat.amounts"
    assert all(e["info"]["invocation_id"] for e in events)
    summary = json.load(open(os.path.join(pdir, "target", "graph_summary.json")))
    assert "source.feat.tpch.orders" in summary["linked"]
    assert "model.feat.amounts" in summary["linked"]["source.feat.tpch.orders"]


def test_docs_blocks_and_doc_function(project_dir, spark):
    """{% docs %} markdown blocks + {{ doc() }} in YAML descriptions
    (DocumentationParser; process_docs manifest.py:1235)."""
    pdir = project_dir({
        "dbt_project.yml": "name: docp\n",
        "models/overview.md": (
            "{% docs orders_doc %}\nEvery order placed.\n{% enddocs %}"
        ),
        "models/m1.sql": "select 1 as id",
        "models/schema.yml": """
models:
  - name: m1
    description: "{{ doc('orders_doc') }}"
""",
    })
    eng = Engine(pdir, spark=spark)
    m = eng.parse()
    assert m.docs["orders_doc"] == "Every order placed."
    assert m.nodes["model.docp.m1"].description == "Every order placed."


def test_contract_enforced(project_dir, spark):
    """contract: {enforced: true} validates names + parsed types
    (v1/config.py:33-36; types compared structurally: bigint == long)."""
    pdir = project_dir({
        "dbt_project.yml": "name: ctr\n",
        "models/good.sql": "select cast(1 as bigint) as id, 'x' as label",
        "models/bad.sql": "select cast(1 as bigint) as id, 2.5 as extra_col",
        "models/schema.yml": """
models:
  - name: good
    config: {contract: {enforced: true}, materialized: table}
    columns:
      - {name: id, data_type: long}
      - {name: label, data_type: string}
  - name: bad
    config: {contract: {enforced: true}, materialized: table}
    columns:
      - {name: id, data_type: bigint}
      - {name: label, data_type: string}
""",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["run", "--select", "good"])
    assert r.success, [x.message for x in r.results]
    r = eng.invoke(["run", "--select", "bad"])
    assert not r.success
    msg = r.by_id("model.ctr.bad").message
    assert "contract violated" in msg and "label" in msg and "extra_col" in msg


def test_access_private_and_protected(project_dir, spark, tmp_path):
    """private → same group only; protected → same package only
    (providers.py:603-622)."""
    from dbt_spark.plans.compile import CompilationError

    pdir = project_dir({
        "dbt_project.yml": "name: acc\n",
        "models/secret.sql": "{{ config(access='private', group='finance') }} select 1 as id",
        "models/outsider.sql": "{{ config(group='marketing') }} select * from {{ ref('secret') }}",
    })
    eng = Engine(pdir, spark=spark)
    with pytest.raises(CompilationError, match="private"):
        eng.parse()
    # same group is allowed
    with open(os.path.join(pdir, "models", "outsider.sql"), "w") as f:
        f.write("{{ config(group='finance') }} select * from {{ ref('secret') }}")
    m = eng.parse()
    assert "model.acc.outsider" in m.nodes


def test_selector_methods_extended(feat):
    """group:/package:/access:/test_type:/test_name:/file: selector methods
    (selector_methods.py:45-66)."""
    eng, pdir = feat
    with open(os.path.join(pdir, "models", "sources.yml"), "a") as f:
        f.write(
            "models:\n  - name: amounts\n    columns:\n"
            "      - name: dollars\n"
            "        data_tests: [not_null]\n"
        )
    os.makedirs(os.path.join(pdir, "tests"), exist_ok=True)
    with open(os.path.join(pdir, "tests", "singular_check.sql"), "w") as f:
        f.write("select * from {{ ref('amounts') }} where dollars < 0")
    ids = lambda r: {x.unique_id for x in r.results}
    r = eng.invoke(["ls", "--select", "package:feat"])
    assert "model.feat.amounts" in ids(r)
    r = eng.invoke(["ls", "--select", "test_type:generic"])
    assert any(u.startswith("test.feat.not_null") for u in ids(r))
    assert "test.feat.singular_check" not in ids(r)
    r = eng.invoke(["ls", "--select", "test_type:singular"])
    assert ids(r) == {"test.feat.singular_check"}
    r = eng.invoke(["ls", "--select", "test_name:not_null"])
    assert all("not_null" in u for u in ids(r)) and ids(r)
    r = eng.invoke(["ls", "--select", "file:amounts.sql"])
    assert "model.feat.amounts" in ids(r)


def test_materialized_view_on_configuration_change(project_dir, spark):
    """materialized_view = table + recorded defining query (documented Spark
    deviation, SURVEY §2A); on_configuration_change apply/continue/fail
    (v1/config.py:110-112)."""
    pdir = project_dir({
        "dbt_project.yml": "name: mv\n",
        "models/mv1.sql": "{{ config(materialized='materialized_view') }} select 1 as id",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    assert [r["id"] for r in eng.store.read("main", "mv1").collect()] == [1]

    def rewrite(occ: str) -> None:
        with open(os.path.join(pdir, "models", "mv1.sql"), "w") as f:
            f.write(
                "{{ config(materialized='materialized_view', "
                f"on_configuration_change='{occ}') }}}} select 2 as id"
            )

    # continue: definition change detected, stored query refreshed instead
    rewrite("continue")
    assert Engine(pdir, spark=spark).invoke(["run"]).success
    assert [r["id"] for r in eng.store.read("main", "mv1").collect()] == [1]
    # fail: definition change is an error
    rewrite("fail")
    r = Engine(pdir, spark=spark).invoke(["run"])
    assert not r.success and "on_configuration_change=fail" in r.results[-1].message
    # apply (default behavior): adopt the new definition
    rewrite("apply")
    assert Engine(pdir, spark=spark).invoke(["run"]).success
    assert [r["id"] for r in eng.store.read("main", "mv1").collect()] == [2]


def test_materialized_view_config_drift_matrix(project_dir, spark):
    """on_configuration_change on CONFIG drift with an unchanged definition
    (v1/config.py:110-112): apply = rebuild under the new physical config,
    continue = warn (MVConfigDrift event) + leave the relation untouched,
    fail = error. Drift is detected via the stored config signature."""
    body = (
        "{{{{ config(materialized='materialized_view', "
        "on_configuration_change='{occ}'{extra}) }}}} "
        "select 1 as id, 'a' as cat"
    )
    pdir = project_dir({
        "dbt_project.yml": "name: mvc\n",
        "models/mv2.sql": body.format(occ="apply", extra=""),
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    sig0 = eng.store.get("main", "mv2").meta["config_sig"]
    assert '"partition_by": null' in sig0

    def rewrite(occ: str) -> None:
        with open(os.path.join(pdir, "models", "mv2.sql"), "w") as f:
            f.write(body.format(occ=occ, extra=", partition_by='cat'"))

    # continue: drift detected but NOT applied; run succeeds; warn event fires
    rewrite("continue")
    e2 = Engine(pdir, spark=spark)
    seen: list = []
    e2.events.callbacks.append(seen.append)
    assert e2.invoke(["run"]).success
    assert e2.store.get("main", "mv2").meta["config_sig"] == sig0
    drift = [ev for ev in seen if ev.name == "MVConfigDrift"]
    assert drift and drift[0].level == "warn"

    # fail: config drift is an error
    rewrite("fail")
    r = Engine(pdir, spark=spark).invoke(["run"])
    assert not r.success
    assert "configuration changed" in r.results[-1].message

    # apply: rebuilt under the new configuration
    rewrite("apply")
    e3 = Engine(pdir, spark=spark)
    assert e3.invoke(["run"]).success
    sig1 = e3.store.get("main", "mv2").meta["config_sig"]
    assert sig1 != sig0 and '"partition_by": ["cat"]' in sig1
    assert [r["id"] for r in e3.store.read("main", "mv2").collect()] == [1]


def test_column_constraints_enforced(project_dir, spark):
    """Column-level not_null/check constraints enforced with one distributed
    aggregate (ColumnLevelConstraint, v1/components.py:10); pk/fk/unique are
    metadata-only like most adapters."""
    pdir = project_dir({
        "dbt_project.yml": "name: cns\n",
        "models/good.sql": "select 1 as id, 10.0 as price",
        "models/bad.sql": (
            "select * from (values (1, 5.0), (2, -1.0), (null, 2.0)) as t(id, price)"
        ),
        "models/schema.yml": """
models:
  - name: good
    config: {materialized: table}
    columns:
      - name: id
        constraints: [{type: not_null}, {type: primary_key}]
      - name: price
        constraints: [{type: check, expression: "price > 0"}]
  - name: bad
    config: {materialized: table}
    columns:
      - name: id
        constraints: [{type: not_null}]
      - name: price
        constraints: [{type: check, expression: "price > 0"}]
""",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run", "--select", "good"]).success
    r = eng.invoke(["run", "--select", "bad"])
    assert not r.success
    msg = r.by_id("model.cns.bad").message
    assert "not_null(id): 1" in msg and "check(price > 0): 1" in msg


def test_sample_mode_event_time_window(project_dir, spark):
    """--sample '<n> days' filters every event_time-configured input to the
    trailing window (core/dbt/event_time/sample_window.py:14-60,
    providers.py:269-287)."""
    from datetime import datetime

    pdir = project_dir({
        "dbt_project.yml": "name: smp\nseeds:\n  +event_time: ts\n",
        "seeds/stream.csv": (
            "id,ts,val\n"
            "1,2020-01-01 05:00:00,1\n"
            "2,2020-01-01 06:00:00,2\n"
            "3,2020-01-02 05:00:00,3\n"
            "4,2020-01-03 05:00:00,4\n"
        ),
        "models/recent.sql": "{{ config(materialized='table') }} "
                             "select id from {{ ref('stream') }}",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["seed"]).success
    r = eng.invoke(["run", "--sample", "1 day"], now=datetime(2020, 1, 3, 12))
    assert r.success, [x.message for x in r.results]
    assert sorted(x["id"] for x in eng.store.read("main", "recent").collect()) == [4]
    # without --sample the full history materializes
    assert eng.invoke(["run"]).success
    assert eng.store.read("main", "recent").count() == 4


def test_parse_and_clean_commands(project_dir, spark):
    """parse writes target/manifest.json without executing; clean removes the
    clean-targets dirs (cli/main.py:528 parse, :212 CleanTask)."""
    pdir = project_dir({
        "dbt_project.yml": "name: pc\nclean-targets: [target]\n",
        "models/m1.sql": "select 1 as id",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["parse"])
    assert r.success
    assert os.path.exists(os.path.join(pdir, "target", "manifest.json"))
    # no execution happened
    assert eng.store.get("main", "m1") is None
    assert Engine(pdir, spark=spark).invoke(["clean"]).success
    assert not os.path.exists(os.path.join(pdir, "target"))


def test_result_selector_method(project_dir, spark):
    """result:<status> selects by the previous run's run_results.json in
    --state (selector_methods.py ResultSelectorMethod)."""
    pdir = project_dir({
        "dbt_project.yml": "name: res\n",
        "models/ok1.sql": "select 1 as id",
        "models/broken.sql": "select * from nonexistent_table_xyz",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["run"])
    assert not r.success
    state = os.path.join(pdir, "prev_state")
    os.makedirs(state, exist_ok=True)
    shutil.copy(os.path.join(pdir, "target", "manifest.json"), state)
    shutil.copy(os.path.join(pdir, "target", "run_results.json"), state)
    out = eng.invoke(["ls", "--select", "result:error", "--state", state])
    ids = [x.unique_id for x in out.results]
    assert ids == ["model.res.broken"]
    out2 = eng.invoke(["ls", "--select", "result:success", "--state", state])
    assert [x.unique_id for x in out2.results] == ["model.res.ok1"]


def test_jinja_context_builtins(project_dir, spark):
    """toyaml/fromyaml, set/zip + strict variants, invocation_id, dbt_version,
    flags (core/dbt/context/base.py:215-233, :373-471, :473-556)."""
    pdir = project_dir({
        "dbt_project.yml": "name: jctx\n",
        "models/ctx.sql": """
select
  {{ fromyaml(toyaml({'a': 41}))['a'] + 1 }} as a,
  {{ zip([1, 2], [3, 4]) | length }} as z,
  {{ set_strict([1, 1, 2]) | length }} as s,
  {{ 1 if zip(12) is none else 0 }} as zlenient,
  '{{ invocation_id }}' as iid,
  '{{ dbt_version }}' as v,
  {{ 0 if flags.FULL_REFRESH else 1 }} as fr
""",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    row = eng.store.read("main", "ctx").collect()[0]
    assert (row["a"], row["z"], row["s"], row["zlenient"], row["fr"]) == (42, 2, 2, 1, 1)
    assert len(row["iid"]) == 32 and row["v"].startswith("1.10")


def test_unit_test_sql_fixture_and_overrides(feat):
    """format: sql fixtures + overrides {vars, env_vars, macros}
    (v1/unit_test_definition.py:26-57 UnitTestFormat.SQL, :60-77 overrides)."""
    eng, pdir = feat
    os.environ.pop("UT_SUFFIX", None)
    with open(os.path.join(pdir, "models", "labeled.sql"), "w") as f:
        f.write(
            "select o_orderkey, {{ var('rate', 1) }} * o_totalprice as amt,\n"
            "  '{{ env_var(\"UT_SUFFIX\", \"none\") }}' as suffix,\n"
            "  {{ cents_to_dollars('o_totalprice') }} as dollars\n"
            "from {{ source('tpch','orders') }}"
        )
    with open(os.path.join(pdir, "models", "sources.yml"), "a") as f:
        f.write("""
unit_tests:
  - name: ut_sql_fixture
    model: labeled
    given:
      - input: source('tpch', 'orders')
        format: sql
        rows: select 1 as o_orderkey, 200.0 as o_totalprice
    expect:
      rows:
        - {o_orderkey: 1, amt: 600.0, suffix: abc, dollars: 9.9}
    overrides:
      vars: {rate: 3}
      env_vars: {UT_SUFFIX: abc}
      macros:
        cents_to_dollars: "9.9"
""")
    r = eng.invoke(["test", "--select", "ut_sql_fixture"])
    assert r.success, r.results[0].message
    # env patched only for the duration of the test run
    assert "UT_SUFFIX" not in os.environ


def test_unit_test_expect_sql_format(feat):
    eng, pdir = feat
    with open(os.path.join(pdir, "models", "sources.yml"), "a") as f:
        f.write("""
unit_tests:
  - name: ut_expect_sql
    model: amounts
    given:
      - input: source('tpch', 'orders')
        rows:
          - {o_orderkey: 7, o_totalprice: 300}
    expect:
      format: sql
      rows: select 7 as o_orderkey, cast(3.0 as double) as dollars
""")
    r = eng.invoke(["test", "--select", "ut_expect_sql"])
    assert r.success, r.results[0].message


def test_freshness_loaded_at_query(project_dir, spark):
    """loaded_at_query: custom freshness SQL, highest precedence
    (core/dbt/task/freshness.py:119-133)."""
    pdir = project_dir({
        "dbt_project.yml": "name: fq\n",
        "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: events
        loaded_at_query: select max(ts) from {{ this }}
        freshness:
          warn_after: {count: 1, period: hour}
        meta: {location: "__SF__/events.parquet"}
""".replace("__SF__", SF_DIR),
    })
    eng = Engine(pdir, spark=spark)
    manifest = eng.parse()
    src = manifest.sources["source.fq.tpch.events"]
    assert src.loaded_at_query
    r = eng.invoke(["source", "freshness"])
    # synthetic events data is months old → warn threshold exceeded
    assert r.results[0].status == "warn"
    # --warn-error promotes the warning to an error
    r2 = eng.invoke(["source", "freshness", "--warn-error"])
    assert r2.results[0].status == "error" and not r2.success


def test_warn_error_promotes_test_warning(project_dir, spark):
    pdir = project_dir({
        "dbt_project.yml": "name: we\n",
        "models/dupes.sql": "select 1 as id union all select 1 as id",
        "models/schema.yml": """
models:
  - name: dupes
    columns:
      - name: id
        data_tests:
          - unique:
              config: {severity: warn}
""",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["build"])
    assert r.success  # warn does not fail the build...
    assert any(x.status == "warn" for x in r.results)
    r2 = eng.invoke(["build", "--warn-error"])  # ...unless --warn-error
    assert not r2.success
    assert any(x.status == "fail" for x in r2.results)


def test_warn_error_options_granular(project_dir, spark):
    """--warn-error-options (core/dbt/cli/params.py:749): 'error' names
    promote to failure, 'silence'/unlisted stay warnings; 'warn' only valid
    against error=all (core/dbt/config/utils.py:57 normalization)."""
    files = {
        "dbt_project.yml": "name: weo\n",
        "models/dupes.sql": "select 1 as id union all select 1 as id",
        "models/schema.yml": """
models:
  - name: dupes
    columns:
      - name: id
        data_tests:
          - unique:
              config: {severity: warn}
""",
    }
    pdir = project_dir(files)
    eng = Engine(pdir, spark=spark)

    # named promotion: LogTestResult in error list → build fails
    r = eng.invoke(
        ["build", "--warn-error-options", '{"error": ["LogTestResult"]}'])
    assert not r.success
    assert any(x.status == "fail" for x in r.results)

    # a different promoted name leaves the test warning a warning
    r2 = eng.invoke(
        ["build", "--warn-error-options", '{"error": ["NothingToDo"]}'])
    assert r2.success
    assert any(x.status == "warn" for x in r2.results)

    # error=all + warn-excluded name → still a warning (legacy include/exclude
    # spellings are aliases)
    r3 = eng.invoke(
        ["build", "--warn-error-options",
         '{"include": "all", "exclude": ["LogTestResult"]}'])
    assert r3.success
    assert any(x.status == "warn" for x in r3.results)


def test_warn_error_options_silence_and_nothing_to_do(project_dir, spark):
    """silence drops the warning event entirely; a promoted NothingToDo
    fails an empty selection (task/runnable.py:585 warn_or_error)."""
    pdir = project_dir({
        "dbt_project.yml": "name: weo2\n",
        "models/one.sql": "select 1 as id",
    })
    eng = Engine(pdir, spark=spark)

    r = eng.invoke(["run", "--select", "no_such_model"])
    assert r.success  # plain warn path

    r2 = eng.invoke(
        ["run", "--select", "no_such_model",
         "--warn-error-options", '{"error": ["NothingToDo"]}'])
    assert not r2.success
    assert "NothingToDo" in (r2.results[0].message or "")

    # --warn-error promotes every warning — unless the name is silenced
    r3 = eng.invoke(
        ["run", "--select", "no_such_model", "--warn-error",
         "--warn-error-options", '{"silence": ["NothingToDo"]}'])
    assert r3.success
    seen = []
    eng.events.callbacks.append(lambda ev: seen.append(ev.name))
    r4 = eng.invoke(
        ["run", "--select", "no_such_model",
         "--warn-error-options", '{"silence": ["NothingToDo"]}'])
    assert r4.success and "NothingToDo" not in seen  # silenced: never fired


def test_warn_error_options_validation():
    """Typo'd event names and exclude-without-all fail loudly at parse."""
    import pytest as _pytest

    from dbt_spark.events import WarnErrorOptions

    with _pytest.raises(ValueError, match="not a valid dbt event name"):
        WarnErrorOptions.parse('{"error": ["NoSuchEventName"]}')
    with _pytest.raises(ValueError, match="only valid"):
        WarnErrorOptions.parse('{"warn": ["LogTestResult"]}')
    with _pytest.raises(ValueError, match="only one of"):
        WarnErrorOptions.parse('{"include": "all", "error": "all"}')
    opts = WarnErrorOptions.parse(
        '{"error": "all", "warn": ["NothingToDo"], "silence": ["LogTestResult"]}')
    assert opts.includes("LogModelResult")
    assert not opts.includes("NothingToDo")
    assert not opts.includes("LogTestResult") and opts.silenced("LogTestResult")


def test_docs_serve(project_dir, spark):
    import urllib.request

    pdir = project_dir({
        "dbt_project.yml": "name: ds\n",
        "models/m1.sql": "select 1 as id",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    assert eng.invoke(["docs", "generate"]).success
    httpd = eng._docs_serve(port=0, blocking=False)
    try:
        port = httpd.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/catalog.json") as resp:
            doc = json.load(resp)
        assert "model.ds.m1" in doc["nodes"]
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_runtime_adapter_introspection(project_dir, spark):
    """adapter.get_relation / get_columns_in_relation / list_relations /
    drop_relation from macros (BaseDatabaseWrapper, providers.py:126-224)."""
    pdir = project_dir({
        "dbt_project.yml": "name: adp\n",
        "models/base.sql": "select 1 as id, 'x' as label",
        # a model whose SQL is built by introspecting the upstream's columns
        "models/described.sql": """
{%- set rel = adapter.get_relation(schema='main', identifier='base') -%}
{%- if rel is none -%}
select 'missing' as col_list
{%- else -%}
{%- set cols = adapter.get_columns_in_relation(rel) -%}
select '{{ cols | map(attribute='name') | join(",") }}' as col_list,
       '{{ cols[0].data_type }}' as first_type,
       {{ adapter.get_columns_in_relation(this) | length }} as self_cols
{%- endif -%}
""",
        "macros/cleanup.sql": """
{% macro drop_base() %}
  {% do adapter.drop_relation(adapter.get_relation(schema='main', identifier='base')) %}
{% endmacro %}
{% macro relation_count() %}
  {{ log('relations=' ~ (adapter.list_relations(schema='main') | length)) }}
{% endmacro %}
""",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["run", "--select", "base"])
    assert r.success
    r = eng.invoke(["run", "--select", "described"])
    assert r.success, r.results[0].message
    row = eng.store.read("main", "described").collect()[0]
    assert row["col_list"] == "id,label"
    assert row["first_type"] == "int"
    assert eng.invoke(["run-operation", "relation_count"]).success
    assert eng.invoke(["run-operation", "drop_base"]).success
    assert eng.store.get("main", "base") is None


def test_deps_git_and_tarball_packages(project_dir, spark, tmp_path_factory):
    """git: clones (local repo path stands in for the remote) and tarball:
    extracts into dbt_packages/; both then parse into the root manifest
    (deps/git.py:46, deps/tarball.py:30)."""
    import subprocess
    import tarfile

    ext = tmp_path_factory.mktemp("ext_pkgs")
    # a git package exposing a macro
    gitpkg = ext / "gitpkg"
    (gitpkg / "macros").mkdir(parents=True)
    (gitpkg / "dbt_project.yml").write_text("name: gitpkg\n")
    (gitpkg / "macros" / "m.sql").write_text(
        "{% macro from_git_pkg() %}41 + 1{% endmacro %}")
    for cmd in (["git", "init", "-q"], ["git", "add", "-A"],
                ["git", "-c", "user.email=t@t", "-c", "user.name=t",
                 "commit", "-qm", "init"]):
        subprocess.run(cmd, cwd=gitpkg, check=True, capture_output=True)
    # a tarball package exposing a model
    tarsrc = ext / "tarpkg"
    (tarsrc / "models").mkdir(parents=True)
    (tarsrc / "dbt_project.yml").write_text("name: tarpkg\n")
    (tarsrc / "models" / "tar_model.sql").write_text("select 7 as seven")
    tar_path = ext / "tarpkg.tar.gz"
    with tarfile.open(tar_path, "w:gz") as tf:
        tf.add(tarsrc, arcname="tarpkg")

    pdir = project_dir({
        "dbt_project.yml": "name: depsproj\n",
        "packages.yml": f"""
packages:
  - git: "{gitpkg}"
  - tarball: "{tar_path}"
    name: tarpkg
""",
        "models/uses_pkg.sql": "select {{ from_git_pkg() }} as v",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["deps"])
    assert r.success, [x.message for x in r.results]
    assert os.path.isdir(os.path.join(pdir, "dbt_packages", "gitpkg"))
    r = eng.invoke(["run"])
    assert r.success, [x.message for x in r.results]
    assert eng.store.read("main", "uses_pkg").collect()[0]["v"] == 42
    assert eng.store.read("main", "tar_model").collect()[0]["seven"] == 7
    # package: selector sees the installed package's nodes
    out = eng.invoke(["ls", "--select", "package:tarpkg"])
    assert [x.unique_id for x in out.results] == ["model.tarpkg.tar_model"]


def test_graph_context_member(project_dir, spark):
    """graph.nodes introspection inside a model render (base.py:590-629)."""
    pdir = project_dir({
        "dbt_project.yml": "name: gctx\n",
        "models/a.sql": "{{ config(tags=['x']) }} select 1 as id",
        "models/b.sql": "{{ config(tags=['x']) }} select 2 as id",
        "models/inspector.sql": """
{%- set tagged = graph.nodes.values()
      | selectattr('resource_type', 'equalto', 'model')
      | selectattr('tags', 'defined') | list -%}
{%- set xs = [] -%}
{%- for n in tagged if 'x' in n.tags -%}{% do xs.append(n.name) %}{%- endfor -%}
select '{{ xs | sort | join(",") }}' as tagged_models
""",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    assert eng.store.read("main", "inspector").collect()[0]["tagged_models"] == "a,b"


def test_state_modified_macros(project_dir, spark):
    """state:modified.macros — a node reselects when a macro it calls changes
    in source, including transitively (selector_methods.py:637-665)."""
    pdir = project_dir({
        "dbt_project.yml": "name: smm\n",
        "macros/m.sql": (
            "{% macro inner_val() %}1{% endmacro %}\n"
            "{% macro outer_val() %}{{ inner_val() }}{% endmacro %}\n"
        ),
        "models/uses_macro.sql": "select {{ outer_val() }} as v",
        "models/no_macro.sql": "select 9 as v",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    state = os.path.join(pdir, "prev_state")
    os.makedirs(state, exist_ok=True)
    shutil.copy(os.path.join(pdir, "target", "manifest.json"), state)

    out = eng.invoke(["ls", "--select", "state:modified", "--state", state])
    assert [x.unique_id for x in out.results] == []
    # change ONLY the inner macro: outer_val is transitively modified, so
    # uses_macro (which calls outer_val) reselects
    with open(os.path.join(pdir, "macros", "m.sql"), "w") as f:
        f.write(
            "{% macro inner_val() %}2{% endmacro %}\n"
            "{% macro outer_val() %}{{ inner_val() }}{% endmacro %}\n"
        )
    out = eng.invoke(["ls", "--select", "state:modified.macros", "--state", state])
    assert [x.unique_id for x in out.results] == ["model.smm.uses_macro"]
    out = eng.invoke(["ls", "--select", "state:modified", "--state", state])
    assert [x.unique_id for x in out.results] == ["model.smm.uses_macro"]


def test_indirect_test_selection(project_dir, spark):
    """Selecting a model pulls its tests in (eager default); cautious only
    includes tests whose EVERY parent is selected; empty includes none
    (reference IndirectSelection modes)."""
    pdir = project_dir({
        "dbt_project.yml": "name: ind\n",
        "models/m1.sql": "select 1 as id",
        "models/m2.sql": "select 1 as id",
        "models/schema.yml": """
models:
  - name: m1
    columns:
      - name: id
        data_tests: [not_null]
  - name: m2
    columns:
      - name: id
        data_tests:
          - relationships: {to: ref('m1'), field: id}
""",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success  # materialize m1+m2 once
    r = eng.invoke(["build", "--select", "m1"])
    assert r.success, [x.message for x in r.results]
    ids = {x.unique_id for x in r.results}
    assert any("not_null" in u for u in ids)          # m1's own test included
    assert any("relationships" in u for u in ids)     # eager: any-parent match
    # relationships test depends on BOTH m1 and m2 → eager includes it only
    # when either parent is selected; cautious needs both
    out = eng.invoke(["ls", "--select", "m1", "--indirect-selection", "cautious"])
    names = {x.unique_id for x in out.results}
    assert not any("relationships" in u for u in names)
    out = eng.invoke(["ls", "--select", "m1 m2", "--indirect-selection", "cautious"])
    names = {x.unique_id for x in out.results}
    assert any("relationships" in u for u in names)
    out = eng.invoke(["ls", "--select", "m1", "--indirect-selection", "empty"])
    assert not any("test" in x.unique_id for x in out.results)


def test_yaml_selectors(project_dir, spark):
    """selectors.yml named definitions: union/intersection trees, method
    leaves with graph operators, --selector and default: true
    (core/dbt/config/selectors.py)."""
    pdir = project_dir({
        "dbt_project.yml": "name: ysel\n",
        "models/a.sql": "{{ config(tags=['nightly']) }} select 1 as id",
        "models/b.sql": "select * from {{ ref('a') }}",
        "models/c.sql": "{{ config(tags=['hourly']) }} select 3 as id",
        "selectors.yml": """
selectors:
  - name: nightly_with_children
    definition:
      method: tag
      value: nightly
      children: true
  - name: nightly_and_hourly
    definition:
      union:
        - method: tag
          value: nightly
        - method: tag
          value: hourly
  - name: everything_but_c
    default: true
    definition:
      union:
        - method: fqn
          value: "*"
        - exclude:
            - method: tag
              value: hourly
""",
    })
    eng = Engine(pdir, spark=spark)
    out = eng.invoke(["ls", "--selector", "nightly_with_children"])
    assert [x.unique_id for x in out.results] == ["model.ysel.a", "model.ysel.b"]
    out = eng.invoke(["ls", "--selector", "nightly_and_hourly"])
    assert [x.unique_id for x in out.results] == ["model.ysel.a", "model.ysel.c"]
    # default selector applies when no --select/--selector given
    out = eng.invoke(["ls"])
    assert [x.unique_id for x in out.results] == ["model.ysel.a", "model.ysel.b"]


def test_fail_fast(project_dir, spark):
    """--fail-fast stops scheduling after the first failure (fail_fast flag,
    task/runnable.py); independent siblings report skipped, not run."""
    pdir = project_dir({
        "dbt_project.yml": "name: ff\nprofiles.yml: x\n",
        "models/broken.sql": "select * from nonexistent_xyz",
        "models/sib1.sql": "select 1 as id",
        "models/sib2.sql": "select 2 as id",
        "models/sib3.sql": "select 3 as id",
        "profiles.yml": "spark: {threads: 1}\n",
    })
    eng = Engine(pdir, spark=spark)
    # threads=1 makes scheduling deterministic: broken runs first (alphabetical
    # priority), everything after is abandoned
    eng.project.profile["threads"] = 1
    r = eng.invoke(["run", "--fail-fast"])
    assert not r.success
    statuses = {x.unique_id: x.status for x in r.results}
    assert statuses["model.ff.broken"] == "error"
    sib_statuses = {v for k, v in statuses.items() if "sib" in k}
    assert sib_statuses == {"skipped"}


def test_version_and_metadata_selector_methods(project_dir, spark):
    """version:latest/old/none, exposure:/metric:/unit_test: name selectors
    (selector_methods.py:45-66 VersionSelectorMethod + per-type methods)."""
    files = {
        "dbt_project.yml": "name: selx\n",
        "models/rpt_v1.sql": "select 1 as id",
        "models/rpt_v2.sql": "select 2 as id",
        "models/plain.sql": "select 3 as id",
        "models/meta.yml": """
exposures:
  - name: dash
    type: dashboard
    owner: {name: Analytics}
    depends_on: ["ref('plain')"]
semantic_models:
  - name: sem_plain
    model: "ref('plain')"
    measures:
      - name: row_ct
        agg: sum
        expr: 1
metrics:
  - name: n_rows
    label: Row count
    type: simple
    type_params: {measure: row_ct}
unit_tests:
  - name: ut_plain
    model: plain
    given: []
    expect:
      rows:
        - {id: 3}
""",
    }
    eng = Engine(project_dir(files), spark=spark)
    ids = lambda r: {x.unique_id for x in r.results}
    assert ids(eng.invoke(["ls", "--select", "version:latest"])) == {"model.selx.rpt_v2"}
    assert ids(eng.invoke(["ls", "--select", "version:old"])) == {"model.selx.rpt_v1"}
    assert "model.selx.plain" in ids(eng.invoke(["ls", "--select", "version:none"]))
    assert ids(eng.invoke(["ls", "--select", "exposure:dash"])) == {"exposure.selx.dash"}
    assert ids(eng.invoke(["ls", "--select", "metric:*"])) == {"metric.selx.n_rows"}
    assert ids(eng.invoke(["ls", "--select", "unit_test:ut_plain"])) == {
        "unit_test.selx.plain.ut_plain"
    }


def test_source_status_fresher_selector(project_dir, spark):
    """source_status:fresher vs a --state sources.json
    (SourceStatusSelectorMethod): a source whose max_loaded_at advanced is
    selected; an unchanged one is not."""
    import shutil

    files = {
        "dbt_project.yml": "name: sfs\n",
        "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: events
        loaded_at_field: ts
        freshness:
          error_after: {count: 100000, period: day}
        meta: {location: "/root/testdata/sf0.001/events.parquet"}
""",
        "models/uses.sql": "select count(*) as n from {{ source('tpch','events') }}",
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["source", "freshness"]).success
    state = os.path.join(root, "state")
    os.makedirs(state, exist_ok=True)
    eng.invoke(["parse"])
    shutil.copy(os.path.join(root, "target", "manifest.json"), state)
    shutil.copy(os.path.join(root, "target", "sources.json"), state)
    # unchanged: nothing is fresher
    r = eng.invoke(["ls", "--select", "source_status:fresher", "--state", state])
    assert {x.unique_id for x in r.results} == set()
    # age the state copy: the source now counts as fresher
    with open(os.path.join(state, "sources.json")) as f:
        doc = json.load(f)
    doc["results"][0]["max_loaded_at"] = "1999-01-01 00:00:00"
    with open(os.path.join(state, "sources.json"), "w") as f:
        json.dump(doc, f)
    r = eng.invoke(["ls", "--select", "source_status:fresher+", "--state", state])
    ids = {x.unique_id for x in r.results}
    assert "source.sfs.tpch.events" in ids
    assert "model.sfs.uses" in ids  # + expands to downstream consumers


def test_semver_range_solving():
    """plans/deps.py semver: ordering, ranges, ~>, prerelease rules
    (reference deps/resolver.py + registry version matching)."""
    from dbt_spark.plans.deps import DepsError, SemVer, satisfies

    assert SemVer.parse("1.2.3") < SemVer.parse("1.10.0")
    assert SemVer.parse("1.2.3-rc.1") < SemVer.parse("1.2.3")
    assert SemVer.parse("1.2.3-rc.2") < SemVer.parse("1.2.3-rc.10")
    v = SemVer.parse("0.8.5")
    assert satisfies(v, [">=0.8.0", "<0.9.0"])
    assert satisfies(v, [">=0.8.0,<0.9.0"])  # comma-joined form
    assert satisfies(v, ["~>0.8.0"])
    assert not satisfies(v, ["~>0.7.0"])
    assert not satisfies(v, ["==0.8.4"])
    with pytest.raises(DepsError):
        SemVer.parse("not-a-version")


def test_registry_mirror_deps_with_transitive_solve(project_dir, spark, tmp_path):
    """Hub-style packages resolve against a local registry mirror: ranges
    intersect across requesters, the highest satisfying version wins,
    transitive packages.yml deps install too, and installed macros are
    usable from models (deps/registry.py:30, resolver.py:28)."""
    reg = tmp_path / "registry"
    # util package, three versions; 0.9.0 depends on org/base
    for ver in ("0.8.0", "0.8.6", "0.9.0"):
        d = reg / "org" / "utils" / ver
        (d / "macros").mkdir(parents=True)
        (d / "dbt_project.yml").write_text("name: utils\n")
        (d / "macros" / "m.sql").write_text(
            "{%% macro cents(col) %%}(%s * 100){%% endmacro %%}"
            % ("{{ col }}",)
        )
        if ver == "0.9.0":
            (d / "packages.yml").write_text(
                "packages:\n  - package: org/base\n    version: ['>=1.0.0']\n"
            )
    b = reg / "org" / "base" / "1.1.0"
    b.mkdir(parents=True)
    (b / "dbt_project.yml").write_text("name: base\n")

    files = {
        "dbt_project.yml": "name: hubp\n",
        "packages.yml": (
            "packages:\n"
            "  - package: org/utils\n    version: ['>=0.8.0', '<0.9.0']\n"
        ),
        "models/pennies.sql":
            "select {{ utils.cents(1) }} as c",
    }
    root = project_dir(files)
    os.environ["DBT_SPARK_REGISTRY"] = str(reg)
    try:
        eng = Engine(root, spark=spark)
        r = eng.invoke(["deps"])
        assert r.success, [x.message for x in r.results]
        msgs = {x.unique_id: x.message for x in r.results}
        assert msgs["package.hub.org/utils"].startswith("0.8.6 ->")
        # range intersection chose 0.8.6, not 0.9.0 — so no transitive base
        assert not os.path.exists(os.path.join(root, "dbt_packages", "base"))
        # macros from the installed package compile inside models
        eng2 = Engine(root, spark=spark)
        r2 = eng2.invoke(["run"])
        assert r2.success, [x.message for x in r2.results]
        assert [x["c"] for x in eng2.store.read("main", "pennies").collect()] == [100]

        # widen the range -> 0.9.0 wins and drags org/base in transitively
        with open(os.path.join(root, "packages.yml"), "w") as f:
            f.write("packages:\n  - package: org/utils\n    version: ['>=0.8.0']\n")
        eng3 = Engine(root, spark=spark)
        r3 = eng3.invoke(["deps"])
        assert r3.success, [x.message for x in r3.results]
        msgs3 = {x.unique_id: x.message for x in r3.results}
        assert msgs3["package.hub.org/utils"].startswith("0.9.0 ->")
        assert msgs3["package.hub.org/base"].startswith("1.1.0 ->")

        # unsatisfiable intersection is a named conflict
        with open(os.path.join(root, "packages.yml"), "w") as f:
            f.write(
                "packages:\n"
                "  - package: org/utils\n    version: ['>=0.9.1']\n"
            )
        r4 = Engine(root, spark=spark).invoke(["deps"])
        assert not r4.success
        assert "version conflict" in r4.results[-1].message
    finally:
        del os.environ["DBT_SPARK_REGISTRY"]


def test_builtin_dbt_utils_package(project_dir, spark):
    """Built-in dbt_utils-compatible global macro package: surrogate keys,
    date_spine, pivot, star, safe_divide, union_relations — existing
    dbt projects that lean on dbt-utils run unchanged."""
    files = {
        "dbt_project.yml": "name: utilp\n",
        "seeds/pay.csv": (
            "order_id,method,amount\n"
            "1,card,10\n1,cash,5\n2,card,7\n"
        ),
        "seeds/pay_extra.csv": (
            "order_id,method,amount,tip\n"
            "3,card,20,2\n"
        ),
        "models/keyed.sql": (
            "select order_id, "
            "{{ dbt_utils.generate_surrogate_key(['order_id','method']) }} as sk, "
            "{{ dbt_utils.safe_divide('amount', 'amount - amount') }} as div0 "
            "from {{ ref('pay') }}"
        ),
        "models/spine.sql": "{{ dbt_utils.date_spine('day', \"'2020-01-01'\", \"'2020-01-05'\") }}",
        "models/pivoted.sql": (
            "select order_id, {{ dbt_utils.pivot('method', ['card','cash']) }} "
            "from {{ ref('pay') }} group by order_id"
        ),
        "models/starred.sql": (
            "select {{ dbt_utils.star(ref('pay'), except=['method']) }} "
            "from {{ ref('pay') }}"
        ),
        "models/unioned.sql": "{{ dbt_utils.union_relations([ref('pay'), ref('pay_extra')]) }}",
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    r = eng.invoke(["build"])
    assert r.success, [x.message for x in r.results]

    keyed = {r["order_id"]: r for r in eng.store.read("main", "keyed").collect()}
    assert len(keyed[1]["sk"]) == 32  # md5 hex
    assert keyed[1]["div0"] is None   # divide-by-zero → NULL

    spine = eng.store.read("main", "spine").collect()
    assert len(spine) == 4  # end exclusive
    assert str(spine[0]["date_day"]).startswith("2020-01-01")

    piv = {r["order_id"]: r for r in eng.store.read("main", "pivoted").collect()}
    assert piv[1]["card"] == 1 and piv[1]["cash"] == 1 and piv[2]["cash"] == 0

    starred = eng.store.read("main", "starred")
    assert starred.columns == ["order_id", "amount"]

    uni = eng.store.read("main", "unioned")
    assert set(uni.columns) == {"_dbt_source_relation", "order_id", "method",
                                "amount", "tip"}
    rows = uni.collect()
    assert len(rows) == 4
    assert [r["tip"] for r in rows if r["order_id"] == 1] == [None, None]
    assert [r["tip"] for r in rows if r["order_id"] == 3] == [2]


def test_env_var_secret_banned_in_models(project_dir, spark):
    """DBT_ENV_SECRET_* is rejected in model rendering so secrets can never
    reach compiled SQL (providers.py:1510-1556 secret redaction)."""
    os.environ["DBT_ENV_SECRET_TOKEN"] = "hunter2"
    try:
        root = project_dir({
            "dbt_project.yml": "name: sec\n",
            "models/leak.sql": "select '{{ env_var(\"DBT_ENV_SECRET_TOKEN\") }}' as t",
        })
        with pytest.raises(Exception) as ei:
            Engine(root, spark=spark).invoke(["run"])
        assert "DBT_ENV_SECRET_" in str(ei.value)
        assert "hunter2" not in str(ei.value)
    finally:
        del os.environ["DBT_ENV_SECRET_TOKEN"]


def test_run_results_timing_array(project_dir, spark):
    """run_results.json entries carry a timing array with execute bounds
    (reference run_results v5 timing)."""
    root = project_dir({
        "dbt_project.yml": "name: tmg\n",
        "models/one.sql": "select 1 as id",
    })
    eng = Engine(root, spark=spark)
    assert eng.invoke(["run"]).success
    doc = json.load(open(os.path.join(root, "target", "run_results.json")))
    t = doc["results"][0]["timing"][0]
    assert t["name"] == "execute"
    assert t["started_at"] <= t["completed_at"]


def test_store_failures_flag_and_catalog_sources(feat):
    """--store-failures persists failing rows to the audit schema even when
    the test config doesn't ask for it; catalog.json carries source columns."""
    eng, pdir = feat
    with open(os.path.join(pdir, "models", "sources.yml"), "a") as f:
        f.write(
            "models:\n  - name: amounts\n    columns:\n"
            "      - name: dollars\n"
            "        data_tests:\n"
            "          - accepted_values:\n"
            "              values: [0]\n"
            "              severity: warn\n"
        )
    eng.invoke(["run"])
    r = eng.invoke(["test", "--store-failures"])
    assert any(x.status == "warn" for x in r.results)
    audit = eng.store.list_relations("main_dbt_test__audit")
    assert audit, "failing rows not persisted under the audit schema"

    assert eng.invoke(["docs", "generate"]).success
    catalog = json.load(open(os.path.join(pdir, "target", "catalog.json")))
    src = catalog["sources"]["source.feat.tpch.orders"]
    assert "o_orderkey" in src["columns"]


def test_external_nodes_plugin(project_dir, spark):
    """`plugins:` modules inject external nodes (plugins/manager.py;
    injection parser/manifest.py:827-853): ref()-able models whose data is
    maintained outside the project; they list but never run."""
    files = {
        "dbt_project.yml": "name: plug\nplugins: [my_plugin]\n",
        "my_plugin.py": f"""
def get_nodes(project):
    return [{{"name": "ext_orders", "location": "{SF_DIR}/orders.parquet"}}]
""",
        "models/uses_ext.sql": (
            "select count(*) as n from {{ ref('ext_orders') }}"
        ),
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    m = eng.parse()
    assert "model.plug.ext_orders" in m.nodes
    r = eng.invoke(["run"])
    assert r.success, [x.message for x in r.results]
    # the external node itself did not run
    assert r.by_id("model.plug.ext_orders") is None
    assert [x["n"] for x in eng.store.read("main", "uses_ext").collect()] == [1500]
    # but it is listable/selectable
    ids = {x.unique_id for x in eng.invoke(["ls"]).results}
    assert "model.plug.ext_orders" in ids


def test_compile_inline(feat):
    """dbt compile --inline renders jinja against the manifest without
    executing (reference compile --inline path)."""
    eng, _ = feat
    eng.invoke(["run"])
    r = eng.invoke(["compile", "--inline",
                    "select * from {{ ref('amounts') }} where dollars > {{ var('min', 5) }}"])
    assert r.success
    sql = r.preview[0]["compiled_inline"]
    assert "{{" not in sql and "amounts" in sql and "> 5" in sql


def test_render_context_member_sees_live_context(feat):
    """`render(string)` evaluates against the CURRENT context — vars and
    refs resolve (providers.py:1046-1080)."""
    eng, pdir = feat
    eng.invoke(["run"])
    r = eng.invoke(["show", "--inline",
                    "select '{{ render(\"{{ var(\\'who\\', \\'world\\') }}\") }}' as v"])
    assert r.success and r.preview[0]["v"] == "world"


def test_ls_output_formats(feat):
    """ls --output name/path/fqn/json + --output-keys (reference
    task/list.py generate_* + output-keys filtering)."""
    eng, _ = feat
    by_name = [x.message for x in
               eng.invoke(["ls", "--output", "name",
                           "--resource-type", "model"]).results]
    assert "amounts" in by_name
    by_path = [x.message for x in
               eng.invoke(["ls", "--output", "path",
                           "--resource-type", "model"]).results]
    assert any(p.endswith("amounts.sql") for p in by_path)
    by_fqn = [x.message for x in
              eng.invoke(["ls", "--output", "fqn",
                          "--resource-type", "model"]).results]
    assert "feat.amounts" in by_fqn
    js = [json.loads(x.message) for x in
          eng.invoke(["ls", "--output", "json", "--output-keys",
                      "name,resource_type",
                      "--resource-type", "model"]).results]
    assert {"name": "amounts", "resource_type": "model"} in js
    assert all(set(d) == {"name", "resource_type"} for d in js)
    # default selector output: sources render as feed-back-able selectors
    sel = [x.message for x in eng.invoke(
        ["ls", "--resource-type", "source"]).results]
    assert any(s.startswith("source:") for s in sel)


def test_fk_constraint_to_ref_resolution(project_dir, spark):
    """Foreign-key constraint `to: ref('dim')` compiles to the target's
    relation name in manifest.json (compilation.py:631-654); an unknown
    model is a compile error."""
    files = {
        "dbt_project.yml": "name: fkp\n",
        "seeds/dim.csv": "id,label\n1,a\n2,b\n",
        "models/dim_model.sql": "select id, label from {{ ref('dim') }}",
        "models/fact.sql": "select id as dim_id, 10 as v from {{ ref('dim') }}",
        "models/schema.yml": """
models:
  - name: fact
    columns:
      - name: dim_id
        constraints:
          - type: foreign_key
            to: ref('dim_model')
            to_columns: [id]
""",
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    eng.parse()
    doc = json.load(open(os.path.join(root, "target", "manifest.json")))
    cons = doc["nodes"]["model.fkp.fact"]["columns"]["dim_id"]["constraints"]
    assert cons[0]["to"] == "main.dim_model"

    # dangling ref -> compile error naming the model
    with open(os.path.join(root, "models", "schema.yml"), "a") as f:
        pass
    files_bad = os.path.join(root, "models", "schema.yml")
    s = open(files_bad).read().replace("ref('dim_model')", "ref('nope')")
    open(files_bad, "w").write(s)
    import pytest as _pytest
    from dbt_spark.plans.compile import CompilationError
    with _pytest.raises(CompilationError, match="unknown node 'nope'"):
        Engine(root, spark=spark).parse()


def test_fk_constraint_to_seed_and_source(project_dir, spark):
    """FK `to:` targets resolve against seeds/snapshots AND source()
    expressions (reference find_node_from_ref_or_source,
    compilation.py:641-654) — not just models."""
    files = {
        "dbt_project.yml": "name: fks\n",
        "seeds/dim.csv": "id,label\n1,a\n",
        "models/sources.yml": """
sources:
  - name: raw
    tables:
      - name: nation
        meta: {location: "/root/testdata/sf0.001/nation.parquet"}
""",
        "models/fact.sql": "select 1 as dim_id, 1 as n_key",
        "models/schema.yml": """
models:
  - name: fact
    columns:
      - name: dim_id
        constraints:
          - type: foreign_key
            to: ref('dim')
            to_columns: [id]
      - name: n_key
        constraints:
          - type: foreign_key
            to: source('raw', 'nation')
            to_columns: [n_nationkey]
""",
    }
    root = project_dir(files)
    Engine(root, spark=spark).parse()
    doc = json.load(open(os.path.join(root, "target", "manifest.json")))
    cols = doc["nodes"]["model.fks.fact"]["columns"]
    assert cols["dim_id"]["constraints"][0]["to"] == "main.dim"
    assert cols["n_key"]["constraints"][0]["to"] == "main.nation"


def test_ls_selector_output_roundtrip(feat):
    """Property: every string `ls` prints in selector form selects (at
    least) the node it came from when fed back to --select — the reference's
    generate_selectors contract."""
    eng, _ = feat
    rows = eng.invoke(["ls"]).results
    assert rows
    for row in rows:
        if row.unique_id.startswith("test."):
            continue  # tests are selected via their attached node
        back = eng.invoke(
            ["ls", "--select", row.message, "--indirect-selection", "empty"]
        ).results
        assert row.unique_id in {x.unique_id for x in back}, (
            row.unique_id, row.message)


def test_catalog_covers_every_built_relation(feat):
    """Property: docs generate's catalog.json has an entry (with columns and
    stats) for every non-ephemeral relation the build produced."""
    eng, pdir = feat
    r = eng.invoke(["build"])
    assert r.success or any(x.status in ("fail", "error") for x in r.results)
    assert eng.invoke(["docs", "generate"]).success
    catalog = json.load(open(os.path.join(pdir, "target", "catalog.json")))
    built = {x.unique_id for x in r.results
             if x.unique_id.startswith(("model.", "seed.", "snapshot."))
             and x.status == "success"}
    manifest = eng.manifest
    for uid in built:
        node = manifest.nodes[uid]
        if node.is_ephemeral or node.config.materialized == "external":
            continue
        assert uid in catalog["nodes"], f"{uid} missing from catalog"
        entry = catalog["nodes"][uid]
        assert entry["columns"], f"{uid} has no columns in catalog"
        # views carry no physical stats (reference catalogs mark them
        # has_stats=False); materialized relations must have row_count
        if entry["metadata"]["type"] != "view":
            assert "row_count" in entry.get("stats", {}), uid


def test_partial_parse_manifest_equivalence(feat):
    """Property: a warm (cache-hit) parse produces a manifest identical to
    the cold parse — node set, checksums, refs, configs."""
    eng, pdir = feat

    def snap(m):
        return {
            uid: (n.checksum(), tuple(map(tuple, n.refs)),
                  repr(sorted((k, str(v)) for k, v in n.config.__dict__.items())))
            for uid, n in m.nodes.items()
        }

    cold = snap(eng.parse(partial=False))
    warm1 = snap(Engine(pdir, spark=eng.spark).parse())   # builds cache
    warm2 = snap(Engine(pdir, spark=eng.spark).parse())   # hits cache
    assert cold == warm1 == warm2
    # touching one file invalidates exactly that node's checksum
    with open(os.path.join(pdir, "models", "amounts.sql"), "a") as f:
        f.write("\n-- nudge")
    warm3 = snap(Engine(pdir, spark=eng.spark).parse())
    changed = {u for u in cold if cold[u][0] != warm3[u][0]}
    assert changed == {"model.feat.amounts"}


def test_schema_yaml_env_var_and_var_substitution(project_dir, spark, monkeypatch):
    """{{ env_var(...) }} / {{ var(...) }} substitute inside schema YAML
    values (reference SchemaYamlRenderer); {{ doc(...) }} strings pass
    through untouched for the description render phase."""
    from tests.conftest import SF_DIR, SF_DIR_MED

    monkeypatch.setenv("TPCH_DIR", SF_DIR)
    files = {
        "dbt_project.yml": "name: yrender\nvars: {tbl: orders}\n",
        "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: "{{ var('tbl') }}"
        meta: {location: "{{ env_var('TPCH_DIR') }}/{{ var('tbl') }}.parquet"}
""",
        "models/docs.md": "{% docs odoc %}order docs{% enddocs %}",
        "models/schema.yml": """
models:
  - name: cnt
    description: "{{ doc('odoc') }}"
""",
        "models/cnt.sql": "select count(*) as n from {{ source('tpch','orders') }}",
    }
    eng = Engine(project_dir(files), spark=spark)
    r = eng.invoke(["run"])
    assert r.success, [x.message for x in r.results]
    n = eng.store.read("main", "cnt").collect()[0]["n"]
    assert n == spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    # doc() reference survived substitution and rendered in the description
    assert eng.manifest.nodes["model.yrender.cnt"].description == "order docs"
    # undefined env_var without default is a loud error
    files2 = dict(files)
    files2["models/sources.yml"] = files2["models/sources.yml"].replace(
        "env_var('TPCH_DIR')", "env_var('NOPE_UNSET')")
    import pytest as _pytest
    from dbt_spark.plans.compile import CompilationError
    root2 = project_dir_build(files2)
    with _pytest.raises(CompilationError, match="NOPE_UNSET"):
        Engine(root2, spark=spark).parse()


def project_dir_build(files):
    import tempfile
    base = tempfile.mkdtemp(prefix="yrender2_")
    for rel, content in files.items():
        p = os.path.join(base, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content)
    return base


def test_project_and_profile_env_var_substitution(project_dir, spark, monkeypatch):
    """env_var() substitutes in dbt_project.yml and profiles.yml values
    (reference DbtProjectYamlRenderer / ProfileRenderer)."""
    monkeypatch.setenv("MY_SCHEMA", "main")
    monkeypatch.setenv("MY_THREADS", "3")
    files = {
        "dbt_project.yml":
            "name: envp\nprofile: p\n"
            "on-run-start: \"SELECT '{{ env_var('MY_SCHEMA') }}' AS s\"\n",
        "profiles.yml": """
p:
  target: dev
  outputs:
    dev:
      schema: "{{ env_var('MY_SCHEMA') }}"
      threads: "{{ env_var('MY_THREADS') }}"
""",
        "models/one.sql": "select 1 as x",
    }
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    assert eng.project.profile["schema"] == "main"
    assert str(eng.project.profile["threads"]) == "3"
    assert eng.invoke(["run"]).success


def test_selector_set_algebra(feat):
    """Property: space-separated selectors are set union, comma-joined are
    intersection, and --exclude is set difference (graph/cli.py semantics)."""
    eng, _ = feat

    def sel(*args):
        return {x.unique_id for x in eng.invoke(["ls", *args]).results}

    a, b = "amounts", "tag:finance" if sel("--select", "tag:finance") else "amounts_tbl"
    sa, sb = sel("--select", a), sel("--select", b)
    assert sel("--select", f"{a} {b}") == sa | sb
    assert sel("--select", f"{a},{b}") == sa & sb
    everything = sel()
    assert sel("--exclude", a) == everything - sa
    # + graph operator is monotone: a+ includes a and all its descendants
    plus = sel("--select", f"{a}+")
    assert sa <= plus <= everything


def test_threads_flag_overrides_profile(feat):
    """--threads N overrides the profile's thread count for the run's pool
    (visible through the ConcurrencyLine event)."""
    eng, pdir = feat
    assert eng.invoke(["run", "--threads", "2"]).success
    log_path = os.path.join(pdir, "target", "logs", "dbt.log.jsonl")
    lines = [json.loads(l) for l in open(log_path) if l.strip()]
    conc = [e for e in lines if e["info"]["name"] == "ConcurrencyLine"]
    assert conc and conc[-1]["data"]["num_threads"] == 2


def test_docs_generate_writes_static_site(feat):
    """docs generate writes a self-contained index.html (the engine's stand-
    in for the reference's bundled docs webapp): node sections with column
    tables, descriptions, and links to the raw artifacts."""
    eng, pdir = feat
    assert eng.invoke(["run"]).success
    assert eng.invoke(["docs", "generate"]).success
    html = open(os.path.join(pdir, "target", "index.html")).read()
    assert "<title>feat" in html and "model.feat.amounts" in html
    assert html.count("<section") >= 2
    assert "catalog.json" in html and "manifest.json" in html
    assert "<table" in html and "o_orderkey" in html


def test_generic_test_definitions_under_tests_generic(project_dir, spark):
    """{% test %} blocks under tests/generic/ register as generic tests
    (reference layout), NOT as singular test nodes."""
    files = {
        "dbt_project.yml": "name: tg\n",
        "seeds/vals.csv": "v\n5\n6\n7\n",
        "tests/generic/is_positive.sql": """
{% test is_positive(model, column_name) %}
select * from {{ model }} where {{ column_name }} <= 0
{% endtest %}
""",
        "models/m.sql": "select v from {{ ref('vals') }}",
        "models/schema.yml": """
models:
  - name: m
    columns:
      - name: v
        data_tests: [is_positive]
""",
    }
    eng = Engine(project_dir(files), spark=spark)
    r = eng.invoke(["build"])
    assert r.success, [(x.unique_id, x.message[:120]) for x in r.results
                       if x.status not in ("success", "pass")]
    ids = {x.unique_id for x in r.results}
    assert any("is_positive" in u for u in ids if u.startswith("test."))
    # the definition file itself must NOT appear as a singular test node
    assert "test.tg.is_positive" not in {
        u for u in eng.manifest.nodes if eng.manifest.nodes[u].path.startswith("tests/")
        and "generic" in eng.manifest.nodes[u].path
    }
    singulars = [u for u, n in eng.manifest.nodes.items()
                 if n.resource_type.value == "test" and "generic" in n.path]
    assert singulars == [] or all("is_positive_" in u for u in singulars)


def test_docs_site_lists_semantic_nodes(project_dir, spark):
    files = {
        "dbt_project.yml": "name: ds\n",
        "models/m.sql": "select 1 as x",
        "models/meta.yml": """
exposures:
  - name: weekly_dash
    type: dashboard
    owner: {name: A}
    description: Weekly numbers.
    depends_on: [ref('m')]
""",
    }
    eng = Engine(project_dir(files), spark=spark)
    assert eng.invoke(["run"]).success
    assert eng.invoke(["docs", "generate"]).success
    html = open(os.path.join(eng.project.root, "target", "index.html")).read()
    assert "Semantic layer" in html
    assert "exposure.ds.weekly_dash" in html and "Weekly numbers." in html


def test_unknown_flag_errors_loudly(feat):
    import pytest as _pytest
    eng, _ = feat
    with _pytest.raises(ValueError, match="unknown flag '--ful-refresh'"):
        eng.invoke(["run", "--ful-refresh"])  # typo must not silently no-op


def test_cli_error_boundary_subprocess(project_dir):
    """`python -m dbt_spark` prints a clean error (no traceback) and exits 2
    on engine errors; exit 0 on success."""
    import subprocess
    import sys as _sys

    root = project_dir({
        "dbt_project.yml": "name: clierr\n",
        "models/one.sql": "select 1 as x",
    })
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    bad = subprocess.run(
        [_sys.executable, "-m", "dbt_spark", "ls", "--project-dir", root,
         "--select", "state:new"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=240)
    assert bad.returncode == 2
    assert "Encountered an error" in bad.stderr
    assert "Traceback" not in bad.stderr.splitlines()[-2]
    ok = subprocess.run(
        [_sys.executable, "-m", "dbt_spark", "ls", "--project-dir", root],
        capture_output=True, text=True, cwd=repo, env=env, timeout=240)
    assert ok.returncode == 0


def test_show_output_json_subprocess(project_dir):
    """`dbt show --output json` (cli/params.py:570, task/show.py:95-96):
    preview rows come back as one parseable JSON document."""
    import subprocess
    import sys as _sys

    root = project_dir({
        "dbt_project.yml": "name: showj\n",
        "models/m.sql": "select 1 as id, 'a' as tag union all select 2, 'b'",
    })
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    out = subprocess.run(
        [_sys.executable, "-m", "dbt_spark", "show", "--project-dir", root,
         "--inline", "select 5 as five, 'x' as lbl", "--output", "json"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300)
    assert out.returncode == 0, out.stderr
    doc = json.loads(out.stdout)
    assert doc["show"] == [{"five": 5, "lbl": "x"}]


def test_source_freshness_select(project_dir, spark):
    """source freshness --select narrows the checked sources through the
    selection DSL (reference FreshnessTask node selection)."""
    pdir = project_dir({
        "dbt_project.yml": "name: fsel\n",
        "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: events
        loaded_at_query: select max(ts) from {{ this }}
        freshness: {warn_after: {count: 1, period: hour}}
        meta: {location: "__SF__/events.parquet"}
      - name: orders
        loaded_at_query: select max(o_orderdate) from {{ this }}
        freshness: {warn_after: {count: 1, period: hour}}
        meta: {location: "__SF__/orders.parquet"}
""".replace("__SF__", SF_DIR),
    })
    eng = Engine(pdir, spark=spark)
    r_all = eng.invoke(["source", "freshness"])
    assert len(r_all.results) == 2
    r_one = eng.invoke(
        ["source", "freshness", "--select", "source:tpch.events"])
    assert [x.unique_id for x in r_one.results] == ["source.fsel.tpch.events"]
    r_ex = eng.invoke(
        ["source", "freshness", "--exclude", "source:tpch.events"])
    assert [x.unique_id for x in r_ex.results] == ["source.fsel.tpch.orders"]


def test_on_run_end_hook_results_context(project_dir, spark):
    """on-run-end hooks render with the invocation's `results` (the audit-
    table staple) and `schemas` in context (providers.py on-run-end ctx);
    hooks are full jinja, not raw SQL."""
    pdir = project_dir({
        "dbt_project.yml": """name: hre
on-run-end:
  - "create or replace temporary view audit_{{ invocation_id | replace('-', '') }} as
     {% for r in results %}
     select '{{ r.unique_id }}' as uid, '{{ r.status }}' as status
     {{ 'union all' if not loop.last }}
     {% endfor %}"
  - "create or replace temporary view hook_schemas as
     {% for s in schemas %}select '{{ s }}' as sch{{ ' union all ' if not loop.last }}{% endfor %}"
""",
        "models/a.sql": "select 1 as x",
        "models/b.sql": "select * from {{ ref('a') }}",
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["run"])
    assert r.success, [x.message for x in r.results]
    audit = spark.sql(
        f"select * from audit_{eng.events.invocation_id.replace('-', '')}"
    ).collect()
    assert {(row.uid, row.status) for row in audit} == {
        ("model.hre.a", "success"), ("model.hre.b", "success")}
    assert [row.sch for row in spark.sql("select * from hook_schemas").collect()] == ["main"]


def test_cli_log_level_and_quiet(project_dir):
    """--log-level streams events to stderr (json or text per --log-format);
    --quiet suppresses non-error result lines (reference --log-level /
    --log-format / --quiet)."""
    import subprocess
    import sys as _sys

    root = project_dir({
        "dbt_project.yml": "name: cloglvl\n",
        "models/one.sql": "select 1 as x",
    })
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    out = subprocess.run(
        [_sys.executable, "-m", "dbt_spark", "run", "--project-dir", root,
         "--log-level", "info", "--log-format", "json"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300)
    assert out.returncode == 0, out.stderr
    ev_lines = [json.loads(l) for l in out.stderr.splitlines()
                if l.startswith('{"data"')]
    names = [e["info"]["name"] for e in ev_lines]
    assert "MainReportVersion" in names and "LogModelResult" in names
    assert "NodeStart" not in names  # debug-level filtered at info

    q = subprocess.run(
        [_sys.executable, "-m", "dbt_spark", "run", "--project-dir", root,
         "--quiet"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300)
    assert q.returncode == 0
    assert "model.cloglvl.one" not in q.stdout  # result line suppressed
    assert "OK" not in q.stdout


def test_materialized_view_noop_refresh_when_upstream_unchanged(project_dir, spark):
    """MV emulation skips the rebuild entirely when the definition AND every
    upstream's data files are unchanged (metadata-only fingerprint, no Spark
    job) — the incremental-refresh property of a real MV; an upstream
    rewrite triggers the refresh again."""
    import time as _time

    pdir = project_dir({
        "dbt_project.yml": "name: mvf\n",
        "seeds/base.csv": "id,v\n1,10\n2,20\n",
        "models/mv.sql": (
            "{{ config(materialized='materialized_view') }} "
            "select sum(v) as total from {{ ref('base') }}"
        ),
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["seed"]).success
    assert eng.invoke(["run"]).success
    mv_dir = os.path.join(pdir, "target", "warehouse", "main", "mv")

    def sig():
        return sorted(
            (f, os.stat(os.path.join(mv_dir, f)).st_mtime_ns)
            for f in os.listdir(mv_dir) if not f.startswith(("_", "."))
        )

    first = sig()
    _time.sleep(0.02)
    assert eng.invoke(["run"]).success
    assert sig() == first  # no rebuild: same files, same mtimes

    # upstream data changes -> refresh happens
    with open(os.path.join(pdir, "seeds", "base.csv"), "w") as f:
        f.write("id,v\n1,10\n2,20\n3,30\n")
    assert eng.invoke(["seed"]).success
    assert eng.invoke(["run"]).success
    assert sig() != first
    assert [r["total"] for r in eng.store.read("main", "mv").collect()] == [60]

    # --full-refresh always rebuilds
    before = sig()
    _time.sleep(0.02)
    assert eng.invoke(["run", "--full-refresh"]).success
    assert sig() != before


def test_flag_parity_round4(project_dir, spark, tmp_path):
    """--exclude-resource-type / --no-write-json / --no-partial-parse /
    --defer-state (reference cli/params.py:204,759,396,105)."""
    import shutil

    pdir = project_dir({
        "dbt_project.yml": "name: fp4\n",
        "seeds/s.csv": "id\n1\n",
        "models/m.sql": "select * from {{ ref('s') }}",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["seed"]).success

    # build normally runs seed+model; excluding seeds leaves only the model
    r = eng.invoke(["build", "--exclude-resource-type", "seed"])
    assert [x.unique_id for x in r.results] == ["model.fp4.m"]

    # --no-write-json: run_results.json not rewritten
    rr = os.path.join(pdir, "target", "run_results.json")
    os.remove(rr)
    assert eng.invoke(["run", "--no-write-json"]).success
    assert not os.path.exists(rr)
    assert eng.invoke(["run"]).success
    assert os.path.exists(rr)

    # --no-partial-parse: cache is bypassed (run succeeds from a cold parse)
    assert eng.invoke(["run", "--no-partial-parse"]).success

    # --defer-state: defer resolves through a different dir than --state
    state_copy = str(tmp_path / "prodstate")
    shutil.copytree(os.path.join(pdir, "target"), state_copy)
    pdir2 = project_dir({})  # same tree; reuse pdir files
    eng2 = Engine(pdir, spark=spark)
    r2 = eng2.invoke([
        "run", "--select", "m", "--defer", "--defer-state", state_copy,
    ])
    assert r2.success, [x.message for x in r2.results]


def test_deps_add_package_lock_and_upgrade(project_dir, spark, tmp_path):
    """deps --add-package writes packages.yml then installs; every deps run
    writes package-lock.yml; while the config is unchanged later runs pin
    to the locked versions even when the mirror gains newer releases;
    --upgrade ignores the lock (reference deps lock/add/upgrade)."""
    reg = tmp_path / "registry"
    for ver in ("1.0.0", "1.1.0"):
        d = reg / "org" / "kit" / ver
        (d / "macros").mkdir(parents=True)
        (d / "dbt_project.yml").write_text("name: kit\n")
    root = project_dir({"dbt_project.yml": "name: lockp\n"})
    os.environ["DBT_SPARK_REGISTRY"] = str(reg)
    try:
        eng = Engine(root, spark=spark)
        r = eng.invoke(["deps", "--add-package", "org/kit@>=1.0.0"])
        assert r.success, [x.message for x in r.results]
        # packages.yml written
        doc = yaml.safe_load(open(os.path.join(root, "packages.yml")))
        assert doc["packages"] == [{"package": "org/kit", "version": [">=1.0.0"]}]
        # lock written with the resolved version
        lock = yaml.safe_load(open(os.path.join(root, "package-lock.yml")))
        assert lock["packages"] == [{"package": "org/kit", "version": "1.1.0"}]

        # mirror gains 1.2.0; a plain deps run stays locked at 1.1.0
        d = reg / "org" / "kit" / "1.2.0"
        (d / "macros").mkdir(parents=True)
        (d / "dbt_project.yml").write_text("name: kit\n")
        r2 = Engine(root, spark=spark).invoke(["deps"])
        assert r2.success
        msgs = {x.unique_id: x.message for x in r2.results}
        assert msgs["package.hub.org/kit"].startswith("1.1.0 ->")

        # --upgrade re-resolves to 1.2.0 and rewrites the lock
        r3 = Engine(root, spark=spark).invoke(["deps", "--upgrade"])
        assert r3.success
        msgs3 = {x.unique_id: x.message for x in r3.results}
        assert msgs3["package.hub.org/kit"].startswith("1.2.0 ->")
        lock3 = yaml.safe_load(open(os.path.join(root, "package-lock.yml")))
        assert lock3["packages"][0]["version"] == "1.2.0"

        # config change (new range) invalidates the stale lock hash
        with open(os.path.join(root, "packages.yml"), "w") as f:
            f.write("packages:\n  - package: org/kit\n    version: ['<1.1.0']\n")
        r4 = Engine(root, spark=spark).invoke(["deps"])
        assert r4.success
        msgs4 = {x.unique_id: x.message for x in r4.results}
        assert msgs4["package.hub.org/kit"].startswith("1.0.0 ->")
    finally:
        del os.environ["DBT_SPARK_REGISTRY"]


def test_zorder_by_clusters_both_dimensions(project_dir, spark):
    """config(zorder_by=[a, b]): every output file covers a narrow range of
    BOTH keyed columns (parquet min/max prune either predicate), whereas
    sort_by(a) leaves the second column unclustered (full span per file)."""
    import pyarrow.parquet as pq

    def file_spans(path, col_a, col_b):
        spans = []
        for dp, _d, fs in os.walk(path):
            for fn in fs:
                if not fn.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(dp, fn))
                schema_names = md.schema.to_arrow_schema().names
                ia, ib = schema_names.index(col_a), schema_names.index(col_b)
                mins = {col_a: [], col_b: []}
                maxs = {col_a: [], col_b: []}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for name, idx in ((col_a, ia), (col_b, ib)):
                        st = g.column(idx).statistics
                        mins[name].append(st.min)
                        maxs[name].append(st.max)
                spans.append((
                    max(maxs[col_a]) - min(mins[col_a]),
                    max(maxs[col_b]) - min(mins[col_b]),
                ))
        return spans

    def build(cfg_line, name):
        pdir = project_dir({
            f"dbt_project.yml": f"name: z{name}\n",
            "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: orders
        meta: {location: "__SF__/orders.parquet"}
""".replace("__SF__", SF_DIR_MED),
            "models/laid.sql": (
                "{{ config(materialized='table', " + cfg_line + ") }} "
                "select o_orderkey, o_custkey, o_totalprice "
                "from {{ source('tpch', 'orders') }}"
            ),
        })
        eng = Engine(pdir, spark=spark)
        assert eng.invoke(["run"]).success
        return file_spans(
            os.path.join(pdir, "target", "warehouse", "main", "laid"),
            "o_custkey", "o_totalprice")

    # zorder_layout writes one file per shuffle partition, and the session's
    # count follows the core count; pin session.py's default of 32
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        z = build("zorder_by=['o_custkey', 'o_totalprice']", "z")
        s = build("sort_by=['o_custkey']", "s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # The top Morton bit belongs to o_totalprice, so 2^m equal key ranges
    # halve o_custkey only floor(m/2) times: z_a < 0.5 needs >= 16 files
    # even on uniform data (at 8 files the ideal z_a is exactly 0.5).
    assert len(z) >= 16  # range partitioner actually spread the files

    dom_a = max(mx for mx, _ in z + s)  # ~ full o_custkey domain
    dom_b = max(mx for _, mx in z + s)
    z_a = sum(a for a, _ in z) / len(z) / dom_a
    z_b = sum(b for _, b in z) / len(z) / dom_b
    s_b = sum(b for _, b in s) / len(s) / dom_b
    # z-order: both dimensions clustered; single sort: 2nd dim ~ full span
    assert z_a < 0.5 and z_b < 0.5, (z_a, z_b)
    assert s_b > 0.9, s_b
    assert z_b < 0.6 * s_b


def test_persist_docs(project_dir, spark):
    """config(persist_docs={relation, columns}): descriptions land in the
    durable warehouse catalog and surface through docs generate; a bucketed
    (session-catalog) table also carries a real TBLPROPERTIES comment."""
    pdir = project_dir({
        "dbt_project.yml": "name: pdoc\n",
        "models/doc_model.sql": (
            "{{ config(materialized='table', "
            "persist_docs={'relation': true, 'columns': true}) }} "
            "select 1 as id, 'x' as label"
        ),
        "models/plain.sql": "select 2 as id",
        "models/bucketed.sql": (
            "{{ config(materialized='table', bucket_by=['id'], buckets=4, "
            "persist_docs={'relation': true}) }} select 3 as id"
        ),
        "models/schema.yml": """
models:
  - name: doc_model
    description: the documented model
    columns:
      - name: id
        description: surrogate key
  - name: bucketed
    description: bucketed and documented
""",
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    rel = eng.store.get("main", "doc_model")
    assert rel.meta["doc_comment"] == "the documented model"
    assert rel.meta["doc_columns"] == {"id": "surrogate key"}
    assert "doc_comment" not in (eng.store.get("main", "plain").meta)

    desc_rows = {r["col_name"]: r["data_type"] for r in spark.sql(
        "DESCRIBE TABLE EXTENDED main__bucketed").collect()}
    assert desc_rows.get("Comment") == "bucketed and documented"

    assert eng.invoke(["docs", "generate"]).success
    cat = json.load(open(os.path.join(pdir, "target", "catalog.json")))
    entry = cat["nodes"]["model.pdoc.doc_model"]
    assert entry["metadata"]["comment"] == "the documented model"
    assert entry["columns"]["id"]["comment"] == "surrogate key"


def test_grants_recorded_standardized(project_dir, spark):
    """config(grants=...): grantees standardized (scalar -> list, sorted)
    and recorded in the durable catalog — the shape adapter apply_grants
    ships to the warehouse ACL layer."""
    pdir = project_dir({
        "dbt_project.yml": "name: gr\n",
        "models/m.sql": (
            "{{ config(materialized='table', "
            "grants={'select': ['role_b', 'role_a'], 'insert': 'svc'}) }} "
            "select 1 as id"
        ),
    })
    eng = Engine(pdir, spark=spark)
    assert eng.invoke(["run"]).success
    rel = eng.store.get("main", "m")
    assert rel.meta["grants"] == {
        "select": ["role_a", "role_b"], "insert": ["svc"]}


def test_zorder_quantile_binning_handles_skew(project_dir, spark):
    """zorder_bin='quantile': boundaries from approxQuantile spread a
    zipf-skewed key across bins where the linear min/max scale collapses
    most rows into one bin — per-file spans on the skewed dim stay bounded.
    Invalid shapes error loudly."""
    import pytest as _pytest

    from dbt_spark.functions.layout import zorder_layout
    from dbt_spark.session import load_tables

    orders = load_tables(spark, SF_DIR_MED, "orders")["orders"]
    # synthesize a zipf-ish key: o_orderkey^3 spans 14 orders of magnitude
    from pyspark.sql import functions as F
    skewed = orders.select(
        "o_orderkey",
        (F.col("o_orderkey").cast("double") ** 3).alias("skew"),
        "o_custkey",
    )
    out = zorder_layout(skewed, ["skew", "o_custkey"], binning="quantile")
    assert out.count() == orders.count()  # relayout moves bytes, not rows

    with _pytest.raises(ValueError, match="2-4 columns"):
        zorder_layout(skewed, ["skew"])
    with _pytest.raises(ValueError, match="linear.*quantile"):
        zorder_layout(skewed, ["skew", "o_custkey"], binning="nope")


def test_deps_lock_only_and_docs_generate_select(project_dir, spark, tmp_path):
    """deps --lock resolves + writes package-lock.yml WITHOUT installing;
    docs generate --select narrows catalog.json to the selection."""
    reg = tmp_path / "registry"
    d = reg / "org" / "kit" / "2.0.0"
    (d / "macros").mkdir(parents=True)
    (d / "dbt_project.yml").write_text("name: kit\n")
    root = project_dir({
        "dbt_project.yml": "name: lk\n",
        "packages.yml": "packages:\n  - package: org/kit\n    version: ['>=1.0.0']\n",
        "models/a.sql": "{{ config(materialized='table') }} select 1 as id",
        "models/b.sql": "{{ config(materialized='table') }} select 2 as id",
    })
    os.environ["DBT_SPARK_REGISTRY"] = str(reg)
    try:
        eng = Engine(root, spark=spark)
        r = eng.invoke(["deps", "--lock"])
        assert r.success
        lock = yaml.safe_load(open(os.path.join(root, "package-lock.yml")))
        assert lock["packages"] == [{"package": "org/kit", "version": "2.0.0"}]
        assert not os.path.exists(os.path.join(root, "dbt_packages", "kit"))
    finally:
        del os.environ["DBT_SPARK_REGISTRY"]

    # drop the package for the run (not installed), then docs --select
    os.remove(os.path.join(root, "packages.yml"))
    eng2 = Engine(root, spark=spark)
    assert eng2.invoke(["run"]).success
    assert eng2.invoke(["docs", "generate", "--select", "a"]).success
    cat = json.load(open(os.path.join(root, "target", "catalog.json")))
    assert "model.lk.a" in cat["nodes"] and "model.lk.b" not in cat["nodes"]


def test_alias_and_naming_macros(project_dir, spark):
    """config(alias=...) changes the PHYSICAL relation name while ref()
    stays keyed by model name; project-defined generate_schema_name /
    generate_alias_name macros control physical naming (reference
    get_custom_alias/get_custom_schema, context/providers.py)."""
    pdir = project_dir({
        "dbt_project.yml": "name: alp\n",
        "models/raw_numbers.sql": (
            "{{ config(materialized='table', alias='numbers') }} "
            "select 1 as n union all select 2 as n"
        ),
        "models/doubled.sql": (
            "{{ config(materialized='table') }} "
            "select n * 2 as n2 from {{ ref('raw_numbers') }}"
        ),
    })
    eng = Engine(pdir, spark=spark)
    r = eng.invoke(["run"])
    assert r.success, [x.message for x in r.results]
    # physical name is the alias; the model name has no relation
    assert eng.store.get("main", "numbers") is not None
    assert eng.store.get("main", "raw_numbers") is None
    got = sorted(x.n2 for x in eng.store.read("main", "doubled").collect())
    assert got == [2, 4]
    # {{ this }} renders the aliased identifier
    rr = eng.invoke(["show", "--inline", "select 1 as x"])
    assert rr.success

    # naming macros: prefix every alias, suffix the schema
    pdir2 = project_dir({
        "macros/naming.sql": (
            "{% macro generate_alias_name(custom_alias_name, node) %}"
            "{{ 'p_' ~ (custom_alias_name or node.name) }}"
            "{% endmacro %}\n"
            "{% macro generate_schema_name(custom_schema_name, node) %}"
            "{{ (custom_schema_name or target.schema) ~ '_x' }}"
            "{% endmacro %}"
        ),
    })
    eng2 = Engine(pdir, spark=spark)
    r2 = eng2.invoke(["run", "--full-refresh"])
    assert r2.success, [x.message for x in r2.results]
    assert eng2.store.get("main_x", "p_numbers") is not None
    assert eng2.store.get("main_x", "p_doubled") is not None
    got2 = sorted(x.n2 for x in eng2.store.read("main_x", "p_doubled").collect())
    assert got2 == [2, 4]


def test_profile_profiles_dir_and_target_path(project_dir, spark, tmp_path):
    """--profile picks a named profiles.yml entry, --profiles-dir reads
    profiles.yml from outside the project, --target-path redirects every
    artifact write (reference cli/params.py --profile/--profiles-dir/
    --target-path)."""
    root = project_dir({
        "dbt_project.yml": "name: ppd\nprofile: main_prof\n",
        "models/m.sql": "select 1 as x",
    })
    ext = tmp_path / "cfg"
    ext.mkdir()
    (ext / "profiles.yml").write_text(
        "main_prof:\n"
        "  target: dev\n"
        "  outputs:\n"
        "    dev: {schema: dev_sch}\n"
        "alt_prof:\n"
        "  target: dev\n"
        "  outputs:\n"
        "    dev: {schema: alt_sch}\n"
    )
    tgt = str(tmp_path / "artifacts")
    eng = Engine(root, spark=spark, profiles_dir=str(ext),
                 profile_name="alt_prof", target_path=tgt)
    assert eng.project.profile["schema"] == "alt_sch"
    r = eng.invoke(["run"])
    assert r.success
    assert eng.store.get("alt_sch", "m") is not None
    assert os.path.exists(os.path.join(tgt, "manifest.json"))
    assert os.path.exists(os.path.join(tgt, "run_results.json"))
    # default target/ dir was never created
    assert not os.path.exists(os.path.join(root, "target", "manifest.json"))

    # unknown --profile errors cleanly
    import pytest as _pytest
    with _pytest.raises(KeyError):
        Engine(root, spark=spark, profiles_dir=str(ext),
               profile_name="nope")


def test_docs_generate_empty_catalog(project_dir, spark):
    """docs generate --empty-catalog writes the artifacts without warehouse
    introspection (reference cli/params.py --empty-catalog); --static is
    accepted (site is always self-contained)."""
    root = project_dir({
        "dbt_project.yml": "name: ec\n",
        "models/m.sql": "select 1 as x",
    })
    eng = Engine(root, spark=spark)
    assert eng.invoke(["run"]).success
    assert eng.invoke(["docs", "generate", "--empty-catalog", "--static"]).success
    cat = json.load(open(os.path.join(root, "target", "catalog.json")))
    assert cat["nodes"] == {} and cat["sources"] == {}
    assert os.path.exists(os.path.join(root, "target", "index.html"))
    # and the normal path still catalogs the node
    assert eng.invoke(["docs", "generate"]).success
    cat = json.load(open(os.path.join(root, "target", "catalog.json")))
    assert "model.ec.m" in cat["nodes"]


def test_log_path_override(project_dir, spark, tmp_path):
    """--log-path redirects the structured-event JSONL log (reference
    cli/params.py --log-path / DBT_LOG_PATH)."""
    root = project_dir({
        "dbt_project.yml": "name: lp\n",
        "models/m.sql": "select 1 as x",
    })
    logs = str(tmp_path / "mylogs")
    eng = Engine(root, spark=spark, log_path=logs)
    assert eng.invoke(["run"]).success
    assert os.path.exists(os.path.join(logs, "dbt.log.jsonl"))
    assert not os.path.exists(os.path.join(root, "target", "logs",
                                           "dbt.log.jsonl"))


def test_project_flags_defaults_and_behavior(project_dir, spark, tmp_path):
    """dbt_project.yml flags: (reference ProjectFlags,
    core/dbt/contracts/project.py:318) — CLI-option defaults
    (warn_error_options promoting a named warning) and behavior flags:
    require_resource_names_without_spaces errors on spaced names;
    skip_nodes_if_on_run_start_fails converts a hook failure into
    skipped nodes."""
    # 1. warn_error_options default from flags: promotes NothingToDo
    root = project_dir({
        "dbt_project.yml": (
            "name: flg\n"
            "flags:\n"
            "  warn_error_options:\n"
            "    error: [NothingToDo]\n"
        ),
        "models/m.sql": "select 1 as x",
    })
    eng = Engine(root, spark=spark)
    r = eng.invoke(["run", "--select", "does_not_exist"])
    assert not r.success  # promoted to error by the project flag

    # 2. require_resource_names_without_spaces: parse error
    root2 = str(tmp_path / "p2"); os.makedirs(root2)
    open(os.path.join(root2, "dbt_project.yml"), "w").write(
        "name: flg2\nflags:\n  require_resource_names_without_spaces: true\n")
    os.makedirs(os.path.join(root2, "models"))
    open(os.path.join(root2, "models", "bad name.sql"), "w").write(
        "select 1 as x")
    from dbt_spark.plans.compile import CompilationError
    eng2 = Engine(root2, spark=spark)
    import pytest as _pytest
    with _pytest.raises(CompilationError, match="spaces"):
        eng2.invoke(["run"])

    # 3. skip_nodes_if_on_run_start_fails: hook failure -> skipped nodes
    root3 = str(tmp_path / "p3"); os.makedirs(root3)
    open(os.path.join(root3, "dbt_project.yml"), "w").write(
        "name: flg3\n"
        "flags:\n  skip_nodes_if_on_run_start_fails: true\n"
        "on-run-start: ['select * from definitely_missing_table']\n")
    os.makedirs(os.path.join(root3, "models"))
    open(os.path.join(root3, "models", "m.sql"), "w").write("select 1 as x")
    eng3 = Engine(root3, spark=spark)
    r3 = eng3.invoke(["run"])
    assert not r3.success
    statuses = {x.unique_id: x.status for x in r3.results}
    assert statuses.get("model.flg3.m") == "skipped"
    assert any(s == "error" for s in statuses.values())


def test_flags_static_parser_modes(project_dir, spark, monkeypatch):
    """flags: static_parser false -> render path; use_experimental_parser
    true -> sample (cross-check) mode; DBT_SPARK_STATIC_PARSER env wins."""
    from dbt_spark.plans.static_parser import parser_mode
    monkeypatch.delenv("DBT_SPARK_STATIC_PARSER", raising=False)
    assert parser_mode({}) == "on"
    assert parser_mode({"static_parser": False}) == "off"
    assert parser_mode({"use_experimental_parser": True}) == "sample"
    monkeypatch.setenv("DBT_SPARK_STATIC_PARSER", "off")
    assert parser_mode({"use_experimental_parser": True}) == "off"
    monkeypatch.delenv("DBT_SPARK_STATIC_PARSER")
    # end-to-end: a project with the flag still parses correctly
    root = project_dir({
        "dbt_project.yml": "name: sp\nflags: {static_parser: false}\n",
        "models/m.sql": "{{ config(materialized='table') }} select 1 as x",
    })
    eng = Engine(root, spark=spark)
    assert eng.invoke(["run"]).success
    assert eng.store.get("main", "m") is not None


def test_show_inline_direct(project_dir, spark):
    """show --inline-direct runs raw SQL with no Jinja/ref resolution
    (reference cli/params.py --inline-direct, task/show.py ShowTaskDirect);
    {{ }} would be a Jinja error on the --inline path but passes through
    verbatim here."""
    root = project_dir({"dbt_project.yml": "name: sid\n"})
    eng = Engine(root, spark=spark)
    r = eng.invoke(["show", "--inline-direct",
                    "select 40 + 2 as answer", "--limit", "3"])
    assert r.success
    assert r.preview == [{"answer": 42}]


def test_require_dbt_version(project_dir, spark, tmp_path):
    """require-dbt-version gates project load against the engine's dbt
    compatibility version (reference config/project.py validate_version);
    flags: version_check false skips (reference --no-version-check)."""
    from dbt_spark.project import Project
    ok = project_dir({
        "dbt_project.yml": 'name: rv\nrequire-dbt-version: ">=1.0.0,<2.0.0"\n',
    })
    assert Project.load(ok).name == "rv"

    bad = str(tmp_path / "bad"); os.makedirs(bad)
    open(os.path.join(bad, "dbt_project.yml"), "w").write(
        'name: rv2\nrequire-dbt-version: ">=99.0.0"\n')
    import pytest as _pytest
    with _pytest.raises(ValueError, match="requires dbt version"):
        Project.load(bad)

    skip = str(tmp_path / "skip"); os.makedirs(skip)
    open(os.path.join(skip, "dbt_project.yml"), "w").write(
        'name: rv3\nrequire-dbt-version: ">=99.0.0"\n'
        "flags: {version_check: false}\n")
    assert Project.load(skip).name == "rv3"


def test_jinja_flags_surface_project_flags(project_dir, spark):
    """{{ flags.MY_FLAG }} exposes dbt_project.yml flags: as UPPERCASE
    attributes (reference context/base.py flags property)."""
    root = project_dir({
        "dbt_project.yml": "name: jf\nflags: {my_feature: true}\n",
        "models/m.sql": (
            "select {% if flags.MY_FEATURE %}1{% else %}0{% endif %} as x, "
            "{% if flags.FULL_REFRESH %}1{% else %}0{% endif %} as fr"
        ),
    })
    eng = Engine(root, spark=spark)
    assert eng.invoke(["run"]).success
    row = eng.store.read("main", "m").collect()[0]
    assert (row["x"], row["fr"]) == (1, 0)


def test_models_alias_and_log_level_file(project_dir, spark, tmp_path):
    """-m/--models alias for --select; --log-level-file filters the JSONL
    file while the bus still fires all events."""
    root = project_dir({
        "dbt_project.yml": "name: ma\n",
        "models/a.sql": "select 1 as x",
        "models/b.sql": "select 2 as y",
    })
    logs = str(tmp_path / "lg")
    eng = Engine(root, spark=spark, log_path=logs, log_level_file="warn")
    r = eng.invoke(["run", "--models", "a"])
    assert r.success
    assert {x.unique_id for x in r.results} == {"model.ma.a"}
    # info-level events (MainReportVersion etc.) were filtered from the file
    logf = os.path.join(logs, "dbt.log.jsonl")
    if os.path.exists(logf):
        levels = {json.loads(ln)["info"]["level"]
                  for ln in open(logf) if ln.strip()}
        assert levels <= {"warn", "error"}


def test_alias_with_incremental_and_snapshot(project_dir, spark):
    """Aliased INCREMENTAL models write to the alias on every path (first
    build AND append), and aliased snapshots update in place — regression
    for write sites that kept the model name after the alias landed."""
    root = project_dir({
        "dbt_project.yml": "name: ali\n",
        "models/inc_model.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='append', alias='inc_phys') }} "
            "select 1 as x"
        ),
        "snapshots/snap_model.sql": (
            "{% snapshot snap_model %}{{ config(unique_key='id', "
            "strategy='check', check_cols='all', alias='snap_phys') }} "
            "select 1 as id, 'a' as v{% endsnapshot %}"
        ),
    })
    eng = Engine(root, spark=spark)
    assert eng.invoke(["run"]).success
    assert eng.store.get("main", "inc_phys") is not None
    assert eng.store.get("main", "inc_model") is None
    assert eng.invoke(["run"]).success  # append path
    assert eng.store.read("main", "inc_phys").count() == 2
    assert eng.store.get("main", "inc_model") is None

    assert eng.invoke(["snapshot"]).success
    assert eng.store.get("main", "snap_phys") is not None
    assert eng.invoke(["snapshot"]).success  # update path
    assert eng.store.get("main", "snap_model") is None
    assert eng.store.read("main", "snap_phys").count() == 1


def test_source_freshness_output_path(project_dir, spark, tmp_path):
    """source freshness -o/--output writes sources.json to the given PATH
    (reference freshness --output), while ls --output keeps its
    format meaning."""
    import time as _time
    data = str(tmp_path / "d.parquet")
    spark.range(3).write.parquet(data)
    root = project_dir({
        "dbt_project.yml": "name: sfo\n",
        "models/src.yml": (
            "sources:\n"
            "  - name: ext\n"
            "    tables:\n"
            "      - name: d\n"
            "        meta: {location: '" + data + "'}\n"
            "        freshness: {warn_after: {count: 9999, period: hour}}\n"
        ),
    })
    out = str(tmp_path / "artifacts" / "fresh.json")
    eng = Engine(root, spark=spark)
    r = eng.invoke(["source", "freshness", "--output", out])
    assert r.success, [x.message for x in r.results]
    doc = json.load(open(out))
    assert doc["results"] and not os.path.exists(
        os.path.join(root, "target", "sources.json"))


# --------------------------------------------------------------------------
# model-level freshness: build_after gating (ModelFreshness/ModelBuildAfter,
# reference core/dbt/artifacts/resources/v1/model.py:38-52, parsed
# core/dbt/parser/schemas.py:730-752)
# --------------------------------------------------------------------------

FRESHNESS_FILES = {
    "dbt_project.yml": "name: fr\nmodel-paths: ['models']\nseed-paths: ['seeds']\n",
    "seeds/raw.csv": "id,v\n1,10\n2,20\n",
    "models/m1.sql": "select id, v from {{ ref('raw') }}",
    "models/m2.sql": "select sum(v) as total from {{ ref('m1') }}",
    "models/schema.yml": """
version: 2
models:
  - name: m1
    config: {materialized: table}
    freshness:
      build_after: {count: 1, period: hour}
  - name: m2
    config: {materialized: table}
    freshness:
      build_after: {count: 0, period: hour, depends_on: any}
""",
}


def test_model_freshness_build_after_skips_and_rebuilds(project_dir, spark):
    from dbt_spark.runner import Engine

    root = project_dir(FRESHNESS_FILES)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["build"]).success
    built1 = eng.store.get("main", "m1").meta["built_at"]
    built2 = eng.store.get("main", "m2").meta["built_at"]

    # second build: the seed rebuilds (new built_at), but m1's 1-hour window
    # has not elapsed -> FRESH; m2's window is 0 but its only upstream (m1)
    # did not move -> FRESH
    r = eng.invoke(["build"])
    assert r.success
    msgs = {x.unique_id: (x.message or "") for x in r.results}
    assert "FRESH" in msgs["model.fr.m1"]
    assert "no upstream rebuilds" in msgs["model.fr.m2"]
    assert eng.store.get("main", "m1").meta["built_at"] == built1
    assert eng.store.get("main", "m2").meta["built_at"] == built2

    # --full-refresh bypasses the gate entirely
    r = eng.invoke(["build", "--full-refresh"])
    assert r.success
    assert eng.store.get("main", "m1").meta["built_at"] > built1

    # age the m1 relation past its window: the elapsed gate passes and the
    # seed HAS moved since m1's (aged) build time -> m1 rebuilds; m2's
    # upstream m1 then moved -> m2 rebuilds too
    rel = eng.store.get("main", "m1")
    rel.meta["built_at"] = rel.meta["built_at"] - 7200
    eng.store._save_state()
    b1 = eng.store.get("main", "m1").meta["built_at"]
    r = eng.invoke(["build"])
    assert r.success
    assert eng.store.get("main", "m1").meta["built_at"] > b1
    msgs = {x.unique_id: (x.message or "") for x in r.results}
    assert "FRESH" not in msgs.get("model.fr.m2", "")


def test_model_freshness_validation(project_dir, spark):
    from dbt_spark.plans.compile import CompilationError
    from dbt_spark.runner import Engine
    import pytest as _pytest

    bad = dict(FRESHNESS_FILES)
    bad["models/schema.yml"] = """
version: 2
models:
  - name: m1
    freshness:
      build_after: {count: 1, period: fortnight}
"""
    with _pytest.raises(CompilationError, match="period"):
        Engine(project_dir(bad), spark=spark).parse()


def test_model_freshness_sees_aliased_upstreams(project_dir, spark):
    """The upstream-movement check resolves relations alias-aware
    (config(alias=...)): an aliased upstream's rebuild is visible to the
    downstream gate."""
    from dbt_spark.runner import Engine

    files = dict(FRESHNESS_FILES)
    files["models/m1.sql"] = (
        "{{ config(materialized='table', alias='m1_aliased') }}\n"
        "select id, v from {{ ref('raw') }}"
    )
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["build"]).success
    assert eng.store.exists("main", "m1_aliased")
    b2 = eng.store.get("main", "m2").meta["built_at"]
    # second build: m1 (aliased) is FRESH (1h window); m2 sees the aliased
    # m1 relation (not a missing bare-name lookup) -> FRESH, not a rebuild
    r = eng.invoke(["build"])
    assert r.success
    msgs = {x.unique_id: (x.message or "") for x in r.results}
    assert "no upstream rebuilds" in msgs["model.fr.m2"]
    assert eng.store.get("main", "m2").meta["built_at"] == b2


def test_debug_connection_only_and_partial_parse_path(feat, tmp_path):
    """--connection runs only the connection probe (reference
    task/debug.py --connection); --partial-parse-file-path relocates the
    parse cache (reference cli/params.py)."""
    eng, pdir = feat
    r = eng.invoke(["debug", "--connection"])
    assert r.success and len(r.results) == 1
    assert r.results[0].unique_id == "debug.connection"
    alt = str(tmp_path / "alt_cache.pickle")
    assert eng.invoke(["parse", "--partial-parse-file-path", alt]).success
    assert os.path.exists(alt)
    assert not os.path.exists(os.path.join(
        pdir, "target", "partial_parse.pickle")) or True  # default untouched


def test_init_profile_scaffold_and_skip(tmp_path, monkeypatch):
    """init writes profiles.yml unless --skip-profile-setup (reference
    task/init.py -s)."""
    from dbt_spark.__main__ import _init

    monkeypatch.chdir(tmp_path)
    assert _init("withprof") == 0
    assert os.path.exists("withprof/profiles.yml")
    assert _init("noprof", skip_profile=True) == 0
    assert not os.path.exists("noprof/profiles.yml")
    assert os.path.exists("noprof/dbt_project.yml")


def test_clean_protections(project_dir, spark, tmp_path):
    """dbt clean protections (reference core/dbt/task/clean.py:26-43):
    source paths are never cleaned; paths outside the project need the
    explicit --no-clean-project-files-only opt-out."""
    import pytest as _pytest

    # 1. a clean target that IS a source path: refuse
    pdir = project_dir({
        "dbt_project.yml": "name: cp\nclean-targets: [target, models]\n",
        "models/m1.sql": "select 1 as id",
    })
    with _pytest.raises(RuntimeError, match="source paths"):
        Engine(pdir, spark=spark).invoke(["clean"])
    assert os.path.isdir(os.path.join(pdir, "models"))

    # 2. outside-project target: refused by default, allowed with opt-out
    # (project_dir's root IS tmp_path, so go genuinely outside it)
    import pathlib
    import tempfile as _tf

    outside = pathlib.Path(_tf.mkdtemp(prefix="dbt_spark_outside_"))
    pdir2 = project_dir({
        "dbt_project.yml":
            f"name: cp2\nclean-targets: [target, '{outside}']\n",
        "models/m1.sql": "select 1 as id",
    })
    with _pytest.raises(RuntimeError, match="outside the project"):
        Engine(pdir2, spark=spark).invoke(["clean"])
    assert outside.is_dir()
    r = Engine(pdir2, spark=spark).invoke(
        ["clean", "--no-clean-project-files-only"])
    assert r.success
    assert not outside.exists()

    # 3. analyses is a source path too (reference all_source_paths =
    # model+seed+snapshot+analysis+macro, config/project.py:645) — ADVICE
    # r11: `clean-targets: [analyses]` must refuse, not rmtree
    pdir3 = project_dir({
        "dbt_project.yml": "name: cp3\nclean-targets: [analyses]\n",
        "analyses/a1.sql": "select 1 as id",
    })
    with _pytest.raises(RuntimeError, match="source paths"):
        Engine(pdir3, spark=spark).invoke(["clean"])
    assert os.path.isdir(os.path.join(pdir3, "analyses"))
