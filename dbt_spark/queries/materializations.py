"""Materialization operators exercised end-to-end as oracle-checked queries.

Each entry builds a fresh temp warehouse, drives the REAL operator code
(operators/incremental.py, operators/microbatch.py, operators/snapshot.py,
operators/seed.py, operators/tests.py, runner.Engine) with deterministic
inputs derived from the sf_dir tables, and returns the final relation state.
The oracle states the same final state in ANSI SQL — so the driver's compare
validates the operator's *semantics*, not just a query plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_spark.catalog import RelationStore
from dbt_spark.operators.materialize import ExecutionContext
from dbt_spark.plans.manifest import Manifest, ManifestNode, NodeConfig, NodeType
from dbt_spark.project import Project
from dbt_spark.queries.scratch import Scratch, scratch_query
from dbt_spark.session import load_tables

T1 = "2020-01-01 00:00:00"
T2 = "2020-06-01 00:00:00"


def _mini_ctx(spark: SparkSession, scratch: Scratch, **ctx_kwargs) -> ExecutionContext:
    project = Project(
        name="matq",
        root=scratch.root,
        profile={"warehouse": scratch.store, "schema": "main", "threads": 2},
    )
    store = RelationStore(spark, project.profile["warehouse"])
    ctx = ExecutionContext(
        spark=spark, store=store, manifest=Manifest(project_name="matq"),
        project=project, **ctx_kwargs
    )
    scratch.contexts.append(ctx)
    return ctx


def _model_node(name: str, sql: str, **config) -> ManifestNode:
    return ManifestNode(
        unique_id=f"model.matq.{name}",
        name=name,
        package_name="matq",
        path=f"models/{name}.sql",
        resource_type=NodeType.Model,
        raw_code=sql,
        config=NodeConfig().merged(**config),
    )


def _run_incremental(ctx, node: ManifestNode, batches: list[str]) -> DataFrame:
    """Feed successive batch SQLs through the real incremental materializer."""
    from dbt_spark.operators.incremental import materialize_incremental

    for batch_sql in batches:
        node.raw_code = batch_sql
        materialize_incremental(ctx, node)
    return ctx.store.read("main", node.name)


# --------------------------------------------------------------------------
# incremental family
# --------------------------------------------------------------------------

@scratch_query
def incremental_append(spark: SparkSession, sf_dir: str, scratch: Scratch) -> DataFrame:
    load_tables(spark, sf_dir, "orders")
    ctx = _mini_ctx(spark, scratch)
    node = _model_node("inc_append", "", materialized="incremental",
                       incremental_strategy="append")
    return _run_incremental(ctx, node, [
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
        "WHERE o_orderdate < TIMESTAMP '1996-01-01'",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01'",
    ])


@scratch_query
def incremental_merge(spark: SparkSession, sf_dir: str, scratch: Scratch) -> DataFrame:
    load_tables(spark, sf_dir, "orders")
    ctx = _mini_ctx(spark, scratch)
    node = _model_node("inc_merge", "", materialized="incremental",
                       incremental_strategy="merge", unique_key="o_orderkey")
    return _run_incremental(ctx, node, [
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
        "SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice FROM orders "
        "WHERE o_orderkey % 10 = 0",
    ])


@scratch_query
def incremental_merge_acid(spark: SparkSession, sf_dir: str,
                           scratch: Scratch) -> DataFrame:
    """The SAME merge semantics as incremental_merge, driven over the
    transactional ``txparquet`` format (formats.py TxParquetFormat): the
    merge routes through the format's NATIVE file-pruned MERGE
    (operators/incremental.py:_native_merge) — one optimistic-concurrency
    commit, untouched data files re-referenced verbatim — and the final
    state must hash-match the identical ANSI oracle. The driver's gate
    thereby proves the ACID seam's merge path end-to-end, not just the
    capability flags.

    Scale: at 100 TB this path rewrites only the data files containing
    matched keys (input_file_name() semi-join probe); the commit is a
    metadata operation, so merge cost follows the touched-file volume,
    not the table size."""
    load_tables(spark, sf_dir, "orders")
    ctx = _mini_ctx(spark, scratch)
    node = _model_node("inc_merge_acid", "", materialized="incremental",
                       incremental_strategy="merge", unique_key="o_orderkey",
                       file_format="txparquet")
    out = _run_incremental(ctx, node, [
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
        "SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice FROM orders "
        "WHERE o_orderkey % 10 = 0",
    ])
    # contract assertions the rows alone can't show: the relation is on the
    # ACID format and the merge produced a THIRD commit (initial write,
    # pre-merge state, native merge) with a file-pruned file list
    from dbt_spark.formats import table_format

    rel = ctx.store.get("main", "inc_merge_acid")
    fmt = table_format("txparquet")
    if rel.meta.get("file_format") != "txparquet":
        raise RuntimeError("relation did not persist file_format=txparquet")
    if fmt.latest_version(rel.path) < 2:
        raise RuntimeError("native merge did not commit to the log")
    return out


_CUSTOM_STRATEGY_MACRO = """
{% macro get_incremental_insert_only_new_sql(arg_dict) %}
{% set t = arg_dict['target_relation'] %}
{% set s = arg_dict['temp_relation'] %}
{% set k = arg_dict['unique_key'] %}
INSERT INTO {{ t }}
SELECT {{ arg_dict['dest_columns'] | map(attribute='quoted') | join(', ') }}
FROM {{ s }}
WHERE {{ k }} NOT IN (SELECT {{ k }} FROM {{ t }})
{% endmacro %}
"""


@scratch_query
def incremental_custom_strategy(spark: SparkSession, sf_dir: str,
                                scratch: Scratch) -> DataFrame:
    """CUSTOM incremental strategy through the REAL materializer: a
    user-defined ``get_incremental_insert_only_new_sql`` macro (the
    reference's strategy→macro dispatch, exercised by its
    tests/functional/materializations/test_incremental.py:33-53) drives
    run 2 — first-write-wins, so run 2's restatus lands only on keys run
    1 never saw. The oracle states that final state directly."""
    load_tables(spark, sf_dir, "orders")
    ctx = _mini_ctx(spark, scratch)
    ctx.manifest.macros["get_incremental_insert_only_new_sql"] = (
        _CUSTOM_STRATEGY_MACRO)
    node = _model_node("inc_custom", "", materialized="incremental",
                       incremental_strategy="insert_only_new",
                       unique_key="o_orderkey")
    return _run_incremental(ctx, node, [
        "SELECT o_orderkey, o_orderstatus FROM orders "
        "WHERE o_orderkey % 3 = 0",
        "SELECT o_orderkey, 'Y' AS o_orderstatus FROM orders "
        "WHERE o_orderkey % 2 = 0",
    ])


@scratch_query
def incremental_delete_insert(spark: SparkSession, sf_dir: str,
                              scratch: Scratch) -> DataFrame:
    load_tables(spark, sf_dir, "orders")
    ctx = _mini_ctx(spark, scratch)
    node = _model_node("inc_di", "", materialized="incremental",
                       incremental_strategy="delete+insert", unique_key="o_orderkey")
    return _run_incremental(ctx, node, [
        "SELECT o_orderkey, o_orderpriority FROM orders",
        "SELECT o_orderkey, 'Z' AS o_orderpriority FROM orders WHERE o_custkey % 7 = 0",
    ])


@scratch_query
def incremental_insert_overwrite(spark: SparkSession, sf_dir: str,
                                 scratch: Scratch) -> DataFrame:
    """Partition-scoped overwrite: 1997's partition replaced with a filtered
    rebuild; every other year's partition untouched."""
    load_tables(spark, sf_dir, "orders")
    ctx = _mini_ctx(spark, scratch)
    node = _model_node("inc_ov", "", materialized="incremental",
                       incremental_strategy="insert_overwrite", partition_by="order_year")
    return _run_incremental(ctx, node, [
        "SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS order_year "
        "FROM orders",
        "SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS order_year "
        "FROM orders WHERE year(o_orderdate) = 1997 AND o_totalprice > 100000",
    ]).select("o_orderkey", "o_totalprice", F.col("order_year").cast("bigint").alias("order_year"))


@scratch_query
def microbatch_backfill(spark: SparkSession, sf_dir: str,
                        scratch: Scratch) -> DataFrame:
    """Day-grain backfill over events Jan 1-5, then an incremental run a day
    later (lookback=1 reprocesses the trailing day): final = events < Jan 7."""
    from datetime import datetime

    load_tables(spark, sf_dir, "events")
    ctx = _mini_ctx(spark, scratch)
    node = _model_node(
        "mb_events", "", materialized="incremental",
        incremental_strategy="microbatch", event_time="ts", batch_size="day",
        begin="2024-01-01", lookback=1,
    )
    from dbt_spark.operators.microbatch import run_microbatch

    node.raw_code = (
        "SELECT event_id, ts, event_type, value FROM events "
        "WHERE ts < TIMESTAMP '2024-01-07'"
    )
    run_microbatch(ctx, node, now=datetime(2024, 1, 5, 12))
    run_microbatch(ctx, node, now=datetime(2024, 1, 6, 12))
    return ctx.store.read("main", "mb_events")


# --------------------------------------------------------------------------
# SCD2 snapshots
# --------------------------------------------------------------------------

def _snapshot_series(spark: SparkSession, sf_dir: str, scratch: Scratch,
                     strategy: str) -> DataFrame:
    from dbt_spark.operators.snapshot import materialize_snapshot

    load_tables(spark, sf_dir, "supplier")
    config = dict(materialized="snapshot", unique_key="s_suppkey", strategy=strategy)
    if strategy == "timestamp":
        config["updated_at"] = "updated_at"
    else:
        config["check_cols"] = ["s_name"]
    node = _model_node(f"snap_{strategy}", "", **config)

    v1 = (
        f"SELECT s_suppkey, s_name, s_nationkey"
        + (f", TIMESTAMP '{T1}' AS updated_at" if strategy == "timestamp" else "")
        + " FROM supplier"
    )
    v2 = (
        "SELECT s_suppkey, CASE WHEN s_suppkey % 7 = 0 THEN s_name || '_v2' "
        "ELSE s_name END AS s_name, s_nationkey"
        + (
            f", CASE WHEN s_suppkey % 7 = 0 THEN TIMESTAMP '{T2}' "
            f"ELSE TIMESTAMP '{T1}' END AS updated_at"
            if strategy == "timestamp"
            else ""
        )
        + " FROM supplier"
    )
    ctx = _mini_ctx(spark, scratch, snapshot_ts=T1)
    node.raw_code = v1
    materialize_snapshot(ctx, node)
    ctx.snapshot_ts = T2
    node.raw_code = v2
    materialize_snapshot(ctx, node)
    out = ctx.store.read("main", node.name)
    return out.select(
        "s_suppkey", "s_name", "dbt_scd_id", "dbt_valid_from", "dbt_valid_to"
    )


@scratch_query
def snapshot_scd2_timestamp(spark: SparkSession, sf_dir: str,
                            scratch: Scratch) -> DataFrame:
    return _snapshot_series(spark, sf_dir, scratch, "timestamp")


@scratch_query
def snapshot_scd2_check(spark: SparkSession, sf_dir: str,
                        scratch: Scratch) -> DataFrame:
    return _snapshot_series(spark, sf_dir, scratch, "check")


# --------------------------------------------------------------------------
# seed load
# --------------------------------------------------------------------------

@scratch_query
def seed_load(spark: SparkSession, sf_dir: str, scratch: Scratch) -> DataFrame:
    from dbt_spark.operators.seed import materialize_seed

    ctx = _mini_ctx(spark, scratch)
    t = load_tables(spark, sf_dir, "region")
    seed_dir = os.path.join(ctx.project.root, "seeds")
    os.makedirs(seed_dir, exist_ok=True)
    t["region"].toPandas().to_csv(os.path.join(seed_dir, "region_seed.csv"), index=False)
    node = ManifestNode(
        unique_id="seed.matq.region_seed",
        name="region_seed",
        package_name="matq",
        path="seeds/region_seed.csv",
        resource_type=NodeType.Seed,
        config=NodeConfig(materialized="seed").merged(
            column_types={"r_regionkey": "int", "r_name": "string"}
        ),
    )
    materialize_seed(ctx, node)
    return ctx.store.read("main", "region_seed")


# --------------------------------------------------------------------------
# generic data tests (failing-rows queries through the real builder)
# --------------------------------------------------------------------------

def _test_ctx(spark: SparkSession, sf_dir: str, scratch: Scratch):
    ctx = _mini_ctx(spark, scratch)
    for tbl in ("orders", "events", "nation", "customer", "lineitem"):
        src = ManifestNode(
            unique_id=f"source.matq.tpch.{tbl}",
            name=tbl,
            package_name="matq",
            path="models/sources.yml",
            resource_type=NodeType.Source,
            source_name="tpch",
        )
        src.config.meta["location"] = os.path.join(sf_dir, f"{tbl}.parquet")
        src.config.meta["file_format"] = "parquet"
        ctx.manifest.add(src)
    return ctx


def _generic_test_df(
    spark: SparkSession, sf_dir: str, scratch: Scratch, table: str, column: str,
    test_name: str, **kwargs
) -> DataFrame:
    from dbt_spark.operators.tests import build_generic_test_sql

    ctx = _test_ctx(spark, sf_dir, scratch)
    tnode = ManifestNode(
        unique_id=f"test.matq.{test_name}_{table}_{column}",
        name=f"{test_name}_{table}_{column}",
        package_name="matq",
        path="models/sources.yml",
        resource_type=NodeType.Test,
        column_name=column,
        test_metadata={"name": test_name, "kwargs": kwargs},
        attached_node=f"source.matq.tpch.{table}",
        config=NodeConfig(materialized="test"),
    )
    if test_name == "relationships":
        tnode.sources = [("tpch", kwargs["to_table"])]
    return spark.sql(build_generic_test_sql(ctx, tnode))


@scratch_query
def test_not_null_failing_rows(spark: SparkSession, sf_dir: str,
                               scratch: Scratch) -> DataFrame:
    df = _generic_test_df(spark, sf_dir, scratch, "orders", "o_custkey", "not_null")
    return df.select("o_orderkey", "o_custkey")


@scratch_query
def test_unique_failing_rows(spark: SparkSession, sf_dir: str,
                             scratch: Scratch) -> DataFrame:
    return _generic_test_df(spark, sf_dir, scratch, "orders", "o_custkey", "unique")


@scratch_query
def test_accepted_values_failing_rows(spark: SparkSession, sf_dir: str,
                                      scratch: Scratch) -> DataFrame:
    return _generic_test_df(
        spark, sf_dir, scratch, "orders", "o_orderstatus", "accepted_values", values=["O", "F"]
    )


@scratch_query
def test_relationships_failing_rows(spark: SparkSession, sf_dir: str,
                                    scratch: Scratch) -> DataFrame:
    return _generic_test_df(
        spark, sf_dir, scratch, "events", "user_id", "relationships",
        field="n_nationkey", to_table="nation",
    ).distinct()


# --------------------------------------------------------------------------
# dbt_utils-compatible generic tests (built-in global package) — each query
# renders the {% test %} macro through the REAL engine builder
# (operators/tests.py namespaced lookup -> runtime_render) and returns the
# failing rows. Reference consumption: hub package dbt-labs/dbt_utils,
# macros/generic_tests/*; execution contract core/dbt/task/test.py:142-197.
# --------------------------------------------------------------------------

_UTILS_MACROS_CACHE: dict = {}


def _utils_pack_macros() -> dict:
    """Built-in global-macro pack (flat + dbt_utils.-namespaced), as
    project.py loads it for real projects (project.py:268-307)."""
    if _UTILS_MACROS_CACHE:
        return _UTILS_MACROS_CACHE
    from dbt_spark.plans.macros import extract_generic_tests, extract_macros

    base = os.path.join(
        os.path.dirname(__file__), "..", "include", "global_macros"
    )
    for fn in sorted(os.listdir(base)):
        if not fn.endswith(".sql"):
            continue
        with open(os.path.join(base, fn)) as f:
            raw = f.read()
        found = dict(extract_macros(raw))
        found.update(extract_generic_tests(raw))
        _UTILS_MACROS_CACHE.update(found)
        _UTILS_MACROS_CACHE.update(
            {f"dbt_utils.{n}": s for n, s in found.items()}
        )
    return _UTILS_MACROS_CACHE


def _utils_test_df(
    spark: SparkSession,
    sf_dir: str,
    scratch: Scratch,
    table: str,
    test_name: str,
    column: str = None,
    where: str = None,
    **kwargs,
) -> DataFrame:
    """Failing rows of a dbt_utils generic test over a tpch source table.

    kwargs values may be callables (ctx) -> str for relation-dependent
    arguments (compare_model/to) that need the resolved source identifier.
    """
    from dbt_spark.operators.tests import build_generic_test_sql

    ctx = _test_ctx(spark, sf_dir, scratch)
    ctx.manifest.macros.update(_utils_pack_macros())
    resolved = {k: (v(ctx) if callable(v) else v) for k, v in kwargs.items()}
    cfg = NodeConfig(materialized="test")
    if where:
        cfg = cfg.merged(where=where)
    tnode = ManifestNode(
        unique_id=f"test.matq.dbt_utils_{test_name}_{table}",
        name=f"dbt_utils_{test_name}_{table}",
        package_name="matq",
        path="models/sources.yml",
        resource_type=NodeType.Test,
        column_name=column,
        test_metadata={"name": f"dbt_utils.{test_name}", "kwargs": resolved},
        attached_node=f"source.matq.tpch.{table}",
        config=cfg,
    )
    return spark.sql(build_generic_test_sql(ctx, tnode))


def _tpch_source_ident(ctx, table: str) -> str:
    return ctx.resolve_source(ctx.manifest.sources[f"source.matq.tpch.{table}"])


@scratch_query
def utilpack_accepted_range(spark: SparkSession, sf_dir: str,
                            scratch: Scratch) -> DataFrame:
    """dbt_utils.accepted_range failing rows: customers with negative
    account balance against min_value=0 (hub dbt_utils
    macros/generic_tests/accepted_range.sql semantics)."""
    df = _utils_test_df(
        spark, sf_dir, scratch, "customer", "accepted_range",
        column="c_acctbal", min_value=0, inclusive=True,
    )
    return df.select(
        "c_custkey", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )


@scratch_query
def utilpack_equal_rowcount_grouped(spark: SparkSession, sf_dir: str,
                                    scratch: Scratch) -> DataFrame:
    """dbt_utils.equal_rowcount with group_by_columns: per-region nation
    counts vs a filtered twin — failing rows are the drifted groups."""
    return _utils_test_df(
        spark, sf_dir, scratch, "nation", "equal_rowcount",
        group_by_columns=["n_regionkey"],
        compare_model=lambda ctx: (
            f"(select * from {_tpch_source_ident(ctx, 'nation')} "
            "where n_nationkey < 20)"
        ),
    )


@scratch_query
def utilpack_sequential_values(spark: SparkSession, sf_dir: str,
                               scratch: Scratch) -> DataFrame:
    """dbt_utils.sequential_values: o_orderkey gaps on a bounded slice
    (every 7th key filtered out, so failing rows exist at any SF) —
    one lag() window, no self-join."""
    return _utils_test_df(
        spark, sf_dir, scratch, "orders", "sequential_values",
        column="o_orderkey",
        where="o_orderkey <= 400 and o_orderkey % 7 != 0", interval=1,
    )


@scratch_query
def utilpack_mutually_exclusive_ranges(spark: SparkSession, sf_dir: str,
                                       scratch: Scratch) -> DataFrame:
    """dbt_utils.mutually_exclusive_ranges over per-customer 30-day order
    windows: overlapping ranges are failing rows. Single lag() window keyed
    on the partition column — one shuffle, scales with key cardinality."""
    return _utils_test_df(
        spark, sf_dir, scratch, "orders", "mutually_exclusive_ranges",
        where="o_custkey < 50",
        lower_bound_column="o_orderdate",
        upper_bound_column="o_orderdate + interval 30 day",
        partition_by="o_custkey",
        gaps="allowed",
    )


@scratch_query
def utilpack_unique_combination_of_columns(spark: SparkSession, sf_dir: str,
                                           scratch: Scratch) -> DataFrame:
    """dbt_utils.unique_combination_of_columns failing rows: (o_custkey,
    o_orderstatus) pairs appearing more than once — one hash groupBy with
    map-side partials, HAVING on the count (hub dbt_utils
    macros/generic_tests/unique_combination_of_columns.sql)."""
    return _utils_test_df(
        spark, sf_dir, scratch, "orders", "unique_combination_of_columns",
        combination_of_columns=["o_custkey", "o_orderstatus"],
        where="o_custkey < 100",
    )


@scratch_query
def utilpack_fewer_rows_than_introspective(spark: SparkSession, sf_dir: str,
                                           scratch: Scratch) -> DataFrame:
    """dbt_utils.fewer_rows_than, INTROSPECTIVE compare_model form: the
    kwarg is a rendered subquery over another relation (the reference's
    custom-config fixture idiom, tests/functional/schema_tests/
    fixtures.py:402-470 — test args may embed ref()/source() subqueries).
    Grouped by o_orderstatus vs the even-orderkey half: every status has
    count_our >= count_comparison, so each group is a failing row."""
    return _utils_test_df(
        spark, sf_dir, scratch, "orders", "fewer_rows_than",
        group_by_columns=["o_orderstatus"],
        compare_model=lambda ctx: (
            f"(select * from {_tpch_source_ident(ctx, 'orders')} "
            "where o_orderkey % 2 = 0)"
        ),
    )


@scratch_query
def utilpack_cardinality_equality(spark: SparkSession, sf_dir: str,
                                  scratch: Scratch) -> DataFrame:
    """dbt_utils.cardinality_equality: order custkey multiset vs customer
    key multiset — EXCEPT both directions over (value, count) pairs."""
    return _utils_test_df(
        spark, sf_dir, scratch, "orders", "cardinality_equality",
        column="o_custkey", field="c_custkey",
        to=lambda ctx: _tpch_source_ident(ctx, "customer"),
    )


# --------------------------------------------------------------------------
# full engine end-to-end (parse → DAG → materialize → read back)
# --------------------------------------------------------------------------

def _engine_project(spark: SparkSession, scratch: Scratch, files: dict,
                    sf_dir: str, subdir: str = ""):
    """An ``Engine`` over a project written to ``scratch`` (or its
    ``subdir``) from ``files`` (relpath -> content; ``__SF__`` stands for
    ``sf_dir``), registered on ``scratch`` so its temp views are dropped
    when the query returns."""
    from dbt_spark.runner import Engine

    root = scratch.path(subdir) if subdir else scratch.root
    for rel, content in files.items():
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content.replace("__SF__", sf_dir))
    eng = Engine(root, spark=spark)
    scratch.contexts.append(eng)
    return eng


ENGINE_PROJECT_FILES = {
    "dbt_project.yml": (
        "name: e2e\nmodels:\n  e2e:\n    +materialized: view\n"
        "    marts:\n      +materialized: table\n"
    ),
    "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: customer
        meta: {location: "__SF__/customer.parquet"}
      - name: orders
        meta: {location: "__SF__/orders.parquet"}
""",
    "models/stg_customers.sql": (
        "select c_custkey, c_name, c_mktsegment from {{ source('tpch', 'customer') }}"
    ),
    "models/stg_orders.sql": (
        "select o_orderkey, o_custkey, o_totalprice, o_orderdate "
        "from {{ source('tpch', 'orders') }}"
    ),
    "models/marts/customer_orders.sql": """
with order_stats as (
    select o_custkey,
           count(*) as number_of_orders,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) as lifetime_value
    from {{ ref('stg_orders') }}
    group by o_custkey
)
select c.c_custkey, c.c_mktsegment,
       cast(coalesce(s.number_of_orders, 0) as bigint) as number_of_orders,
       coalesce(s.lifetime_value, 0.0) as lifetime_value
from {{ ref('stg_customers') }} c
left join order_stats s on c.c_custkey = s.o_custkey
""",
}


@scratch_query
def engine_run_e2e(spark: SparkSession, sf_dir: str, scratch: Scratch) -> DataFrame:
    """The flagship integration: a real project through Engine.invoke(['run'])."""
    eng = _engine_project(spark, scratch, ENGINE_PROJECT_FILES, sf_dir)
    result = eng.invoke(["run"])
    if not result.success:
        raise RuntimeError(f"engine run failed: {[r.message for r in result.results]}")
    return eng.store.read("main", "customer_orders")


@scratch_query
def engine_custom_materialization(spark: SparkSession, sf_dir: str,
                                  scratch: Scratch) -> DataFrame:
    """A user-defined {% materialization %} through the whole engine
    (operators/custom_mat.py; reference task/run.py:305-334): the macro
    compiles the model SELECT over the orders source, issues its own
    CREATE TABLE ... USING PARQUET LOCATION via {% call statement('main')
    %}, and the engine adopts the files as the node's relation. Output is
    oracle-checked against the plain aggregate the macro materialized."""
    files = {
        "dbt_project.yml": "name: cmq\n",
        "macros/by_status.sql": (
            "{% materialization adopted_table, default %}\n"
            "  {% call statement('main') %}\n"
            "    {{ create_table_as(False, this, sql) }}\n"
            "  {% endcall %}\n"
            "  {{ return({'relations': [this]}) }}\n"
            "{% endmaterialization %}\n"
        ),
        "models/sources.yml": (
            "sources:\n  - name: tpch\n    tables:\n      - name: orders\n"
            '        meta: {location: "__SF__/orders.parquet"}\n'
        ),
        "models/status_rollup.sql": (
            "{{ config(materialized='adopted_table') }} "
            "select o_orderstatus, count(*) as n_orders, "
            "cast(sum(cast(o_totalprice as decimal(18,2))) as double) "
            "as total_price "
            "from {{ source('tpch', 'orders') }} group by o_orderstatus"
        ),
    }
    eng = _engine_project(spark, scratch, files, sf_dir)
    result = eng.invoke(["run"])
    if not result.success:
        raise RuntimeError(
            f"custom materialization run failed: "
            f"{[r.message for r in result.results]}")
    rel = eng.store.get("main", "status_rollup")
    if not rel.meta.get("custom_materialization"):
        raise RuntimeError("relation was not built by the custom path")
    return eng.store.read("main", "status_rollup")


@scratch_query
def engine_pii_scrub_model(spark: SparkSession, sf_dir: str,
                           scratch: Scratch) -> DataFrame:
    """config(pii_redact=['text']) through the WHOLE engine: a real
    project whose model emits synthetic contact lines, materialized as a
    table with the scrub config — the stored relation must contain the
    chained-redaction output byte-for-byte (per-lang ordered md5 fold
    vs the DuckDB replay of the same chain). Proves the privacy knob
    composes with materialization exactly like quality/dedup configs."""
    files = {
        "dbt_project.yml": "name: piiq\n",
        "models/sources.yml": (
            "sources:\n  - name: corpus\n    tables:\n      - name: documents\n"
            '        meta: {location: "__SF__/documents.parquet"}\n'
        ),
        "models/scrubbed.sql": (
            "{{ config(materialized='table', pii_redact=['text']) }} "
            "select doc_id, lang, text || ' contact user' || "
            "cast(doc_id as string) || '@' || source || '.example.com' "
            "as text from {{ source('corpus', 'documents') }}"
        ),
    }
    eng = _engine_project(spark, scratch, files, sf_dir)
    result = eng.invoke(["run"])
    if not result.success:
        raise RuntimeError(
            f"pii scrub run failed: {[r.message for r in result.results]}")
    out = eng.store.read("main", "scrubbed")
    from dbt_spark.queries.hygiene import _ordered_md5

    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            _ordered_md5("doc_id", "text").alias("redacted_md5"),
        )
        .orderBy("lang")
    )


@scratch_query
def zorder_layout_scan(spark: SparkSession, sf_dir: str, scratch: Scratch) -> DataFrame:
    """config(zorder_by=[k1, k2]) through the engine: Morton-interleaved
    clustering (functions/layout.py) relays the full row set unchanged — the
    layout moves bytes, never values. Returned rows are oracle-checked
    against a plain projection; the pruning property itself is pinned by
    tests/test_features.py::test_zorder_by_clusters_both_dimensions."""
    files = {
        "dbt_project.yml": "name: zq\n",
        "models/sources.yml": (
            "sources:\n  - name: tpch\n    tables:\n      - name: orders\n"
            '        meta: {location: "__SF__/orders.parquet"}\n'
        ),
        "models/zlaid.sql": (
            "{{ config(materialized='table', "
            "zorder_by=['o_custkey', 'o_totalprice']) }} "
            "select o_orderkey, o_custkey, o_totalprice "
            "from {{ source('tpch', 'orders') }}"
        ),
    }
    eng = _engine_project(spark, scratch, files, sf_dir)
    if not eng.invoke(["run"]).success:
        raise RuntimeError("zorder run failed")
    return eng.store.read("main", "zlaid").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"))


@scratch_query
def contract_enforced_model(spark: SparkSession, sf_dir: str,
                            scratch: Scratch) -> DataFrame:
    """Model contracts (reference v1/config.py:33-36, build_contract_checksum
    nodes.py:637): a conforming model materializes; a sibling that violates
    its declared schema is REJECTED and leaves no relation. Output = the
    conforming model + one row per model recording the enforcement verdict...
    expressed as columns so the oracle can state it."""
    files = {
        "dbt_project.yml": "name: ctq\n",
        "models/sources.yml": (
            "sources:\n  - name: tpch\n    tables:\n      - name: nation\n"
            '        meta: {location: "__SF__/nation.parquet"}\n'
            "models:\n"
            "  - name: nations_ok\n"
            "    config: {contract: {enforced: true}, materialized: table}\n"
            "    columns:\n"
            "      - {name: n_nationkey, data_type: bigint}\n"
            "      - {name: n_name, data_type: string}\n"
            "  - name: nations_bad\n"
            "    config: {contract: {enforced: true}, materialized: table}\n"
            "    columns:\n"
            "      - {name: n_nationkey, data_type: bigint}\n"
            "      - {name: n_name, data_type: string}\n"
        ),
        "models/nations_ok.sql": (
            "select cast(n_nationkey as bigint) as n_nationkey, n_name "
            "from {{ source('tpch', 'nation') }}"
        ),
        # violates the contract: extra undeclared column + missing n_name
        "models/nations_bad.sql": (
            "select cast(n_nationkey as bigint) as n_nationkey, "
            "1.5 as surprise from {{ source('tpch', 'nation') }}"
        ),
    }
    eng = _engine_project(spark, scratch, files, sf_dir)
    ok = eng.invoke(["run", "--select", "nations_ok"])
    bad = eng.invoke(["run", "--select", "nations_bad"])
    if not ok.success or bad.success:
        raise RuntimeError("contract enforcement behaved unexpectedly")
    built = eng.store.read("main", "nations_ok")
    rejected = eng.store.get("main", "nations_bad") is None
    return built.select(
        "n_nationkey", "n_name",
        F.lit(bool(rejected)).alias("bad_model_rejected"),
    )


@scratch_query
def clone_state_relations(spark: SparkSession, sf_dir: str,
                          scratch: Scratch) -> DataFrame:
    """`dbt clone --state` (reference task/clone.py:19-99): prod builds a
    relation; a dev target zero-copy clones it from prod's state artifacts —
    catalog entry copied, data files shared (parquet analog of Delta SHALLOW
    CLONE). Output = the cloned relation's content, never re-computed."""
    files = {
        "dbt_project.yml": "name: clq\n",
        "models/sources.yml": (
            "sources:\n  - name: tpch\n    tables:\n      - name: orders\n"
            '        meta: {location: "__SF__/orders.parquet"}\n'
        ),
        "models/big_spenders.sql": (
            "{{ config(materialized='table') }}\n"
            "select o_orderkey, o_custkey, o_totalprice\n"
            "from {{ source('tpch', 'orders') }} where o_totalprice > 300000"
        ),
    }

    prod = _engine_project(spark, scratch, files, sf_dir, "prod")
    if not prod.invoke(["run"]).success:
        raise RuntimeError("prod run failed")
    dev = _engine_project(spark, scratch, files, sf_dir, "dev")
    r = dev.invoke(["clone", "--state", os.path.join(prod.project.root, "target")])
    if not r.success:
        raise RuntimeError(f"clone failed: {[x.message for x in r.results]}")
    return dev.store.read("main", "big_spenders")


@scratch_query
def hooks_audit_trail(spark: SparkSession, sf_dir: str, scratch: Scratch) -> DataFrame:
    """pre/post hooks through the engine (reference safe_run_hooks,
    task/run.py:868-976): the post-hook renders `{{ this }}` and records the
    built relation's rowcount into an audit view the query then returns."""
    files = {
        "dbt_project.yml": "name: hkq\n",
        "models/sources.yml": (
            "sources:\n  - name: tpch\n    tables:\n      - name: orders\n"
            '        meta: {location: "__SF__/orders.parquet"}\n'
        ),
        "models/urgent_orders.sql": (
            "{{ config(materialized='table', "
            "post_hook=\"CREATE OR REPLACE TEMP VIEW hook_audit AS "
            "SELECT 'urgent_orders' AS model_name, "
            "CAST(count(*) AS BIGINT) AS n_rows FROM {{ this }}\") }}\n"
            "select o_orderkey, o_orderpriority "
            "from {{ source('tpch', 'orders') }} "
            "where o_orderpriority = '1-URGENT'"
        ),
    }
    eng = _engine_project(spark, scratch, files, sf_dir)
    if not eng.invoke(["run"]).success:
        raise RuntimeError("hooked run failed")
    return spark.table("hook_audit")


PYTHON_MODEL_PROJECT_FILES = {
    "dbt_project.yml": "name: pyq\n",
    "models/sources.yml": """
sources:
  - name: tpch
    tables:
      - name: orders
        meta: {location: "__SF__/orders.parquet"}
""",
    "models/stg_orders.sql": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice\n"
        "FROM {{ source('tpch', 'orders') }} WHERE o_custkey < 1000"
    ),
    "models/status_totals.py": """
def model(dbt, session):
    # `session` IS the SparkSession and dbt.ref() returns a DataFrame —
    # the Spark build's native form of the reference's Python models
    # (parser/models.py:188-236, providers.py:1566-1578 submit_python_job)
    from pyspark.sql import functions as F

    dbt.config(materialized="table")
    stg = dbt.ref("stg_orders")
    return (
        stg.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )
""",
}


@scratch_query
def python_model_run(spark: SparkSession, sf_dir: str, scratch: Scratch) -> DataFrame:
    """A Python model (`def model(dbt, session)`) through the REAL engine:
    AST-parsed dbt.ref/dbt.config capture, DAG-linked after its SQL upstream,
    executed natively on the SparkSession."""
    eng = _engine_project(spark, scratch, PYTHON_MODEL_PROJECT_FILES, sf_dir)
    result = eng.invoke(["run"])
    if not result.success:
        raise RuntimeError(f"python model run failed: {[r.message for r in result.results]}")
    return eng.store.read("main", "status_totals").orderBy("o_orderstatus")


@scratch_query
def snapshot_hard_delete(spark: SparkSession, sf_dir: str,
                         scratch: Scratch) -> DataFrame:
    """SCD2 with hard_deletes='new_record' (reference: dbt_is_deleted meta
    column, v1/snapshot.py:35-42): v2 drops every 10th supplier, so those
    keys get their v1 row closed at T2 PLUS a current deletion-marker row
    flagged dbt_is_deleted=true."""
    from dbt_spark.operators.snapshot import materialize_snapshot

    load_tables(spark, sf_dir, "supplier")
    node = _model_node(
        "snap_hd", "", materialized="snapshot", unique_key="s_suppkey",
        strategy="timestamp", updated_at="updated_at", hard_deletes="new_record",
    )
    ctx = _mini_ctx(spark, scratch, snapshot_ts=T1)
    node.raw_code = (
        f"SELECT s_suppkey, s_name, TIMESTAMP '{T1}' AS updated_at FROM supplier"
    )
    materialize_snapshot(ctx, node)
    ctx.snapshot_ts = T2
    node.raw_code = (
        f"SELECT s_suppkey, s_name, TIMESTAMP '{T1}' AS updated_at "
        "FROM supplier WHERE s_suppkey % 10 != 0"
    )
    materialize_snapshot(ctx, node)
    return ctx.store.read("main", "snap_hd").select(
        "s_suppkey", "s_name", "dbt_scd_id", "dbt_valid_from", "dbt_valid_to",
        "dbt_is_deleted",
    )


UNIT_TEST_PROJECT_FILES = {
    "dbt_project.yml": "name: utq\n",
    "models/sources.yml": """
sources:
  - name: corpus
    tables:
      - name: documents
        meta: {location: "__SF__/documents.parquet"}
models:
  - name: doc_stats
unit_tests:
  - name: ut_doc_stats_pass
    model: doc_stats
    given:
      - input: source('corpus', 'documents')
        rows:
          - {doc_id: 1, lang: en, n_chars: 100}
          - {doc_id: 2, lang: en, n_chars: 300}
          - {doc_id: 3, lang: de, n_chars: 50}
    expect:
      rows:
        - {lang: de, n_docs: 1, total_chars: 50}
        - {lang: en, n_docs: 2, total_chars: 400}
  - name: ut_doc_stats_fail
    model: doc_stats
    given:
      - input: source('corpus', 'documents')
        rows:
          - {doc_id: 1, lang: en, n_chars: 100}
    expect:
      rows:
        - {lang: en, n_docs: 7, total_chars: 9}
""",
    "models/doc_stats.sql": (
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,\n"
        "       CAST(sum(n_chars) AS BIGINT) AS total_chars\n"
        "FROM {{ source('corpus', 'documents') }} GROUP BY lang"
    ),
}


@scratch_query
def unit_test_fixture_diff(spark: SparkSession, sf_dir: str,
                           scratch: Scratch) -> DataFrame:
    """dbt-native unit tests through the REAL engine (`dbt test` over
    fixture-driven micro-manifests, reference parser/unit_tests.py:60-198 +
    task/test.py:205-283): source refs replaced by literal fixture rows, the
    model's SQL runs on them, actual vs expect is diffed. One passing and one
    deliberately-failing test; the result statuses are the query output."""
    eng = _engine_project(spark, scratch, UNIT_TEST_PROJECT_FILES, sf_dir)
    r = eng.invoke(["test", "--select", "ut_doc_stats_pass ut_doc_stats_fail"])
    rows = [(x.unique_id.rsplit(".", 1)[-1], x.status) for x in r.results]
    scratch.remove()  # the result below is built from driver-side rows
    return spark.createDataFrame(rows, "unit_test string, status string").orderBy(
        "unit_test"
    )


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

def semantic_metric_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-layer metric query: YAML-shaped semantic model + metrics
    compiled to one SQL statement by plans/metric_compile.py (the generation
    step the reference hands to MetricFlow; parse shapes
    schema_yaml_readers.py:189,511).

    Scale: all three metrics resolve to ONE aggregate over one scan of
    orders (fused measures, map-side partials, single shuffle on the
    group-by keys) — metric count does not multiply scans."""
    from dbt_spark.plans.metric_compile import compile_metrics_sql
    from dbt_spark.session import load_tables

    load_tables(spark, sf_dir, "orders")
    sm = {
        "name": "orders_sm",
        "model": "ref('orders')",
        "defaults": {"agg_time_dimension": "order_date"},
        "entities": [{"name": "order", "type": "primary", "expr": "o_orderkey"}],
        "dimensions": [
            {"name": "order_date", "type": "time", "expr": "o_orderdate",
             "type_params": {"time_granularity": "day"}},
            {"name": "status", "type": "categorical", "expr": "o_orderstatus"},
        ],
        "measures": [
            {"name": "order_count", "agg": "count", "expr": "1"},
            {"name": "order_total_dec", "agg": "sum",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))"},
        ],
    }
    metrics = [
        {"name": "revenue_dec", "type": "simple", "label": "rd",
         "type_params": {"measure": "order_total_dec"}},
        {"name": "revenue", "type": "derived", "label": "r",
         "type_params": {"expr": "CAST(rev AS DOUBLE)",
                         "metrics": [{"name": "revenue_dec", "alias": "rev"}]}},
        {"name": "n_orders", "type": "simple", "label": "n",
         "type_params": {"measure": "order_count"}},
        {"name": "aov", "type": "ratio", "label": "aov",
         "type_params": {"numerator": "order_total_dec",
                         "denominator": "order_count"}},
    ]
    sql = compile_metrics_sql(
        ["revenue", "n_orders", "aov"], metrics, [sm],
        {"orders": "orders"},
        group_by=["status", "metric_time__month"],
        where="{{ Dimension('status') }} <> 'P'",
        order_by=["status", "metric_time__month"],
    )
    # presentation cast for the oracle pair only: DuckDB DATE surfaces as
    # pandas Timestamp, so both dialects emit TIMESTAMP for the hash compare
    return spark.sql(sql).withColumn(
        "metric_time__month", F.col("metric_time__month").cast("timestamp"))


def semantic_conversion_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion metric (MetricFlow ConversionTypeParams,
    core/dbt/artifacts/resources/v1/metric.py): signups that reach a
    purchase by the same user within 7 days, as conversion count AND rate,
    grouped by signup month — compiled to one SQL statement by
    plans/metric_compile.py.

    Scale: converted base events come from ONE LEFT SEMI join keyed on
    user_id (multiple conversions dedup for free), then two group-keyed
    aggregates; no global-timeline window, no row ids."""
    from dbt_spark.plans.metric_compile import compile_metrics_sql
    from dbt_spark.session import load_tables

    load_tables(spark, sf_dir, "events")
    sm = {
        "name": "events_sm",
        "model": "ref('events')",
        "defaults": {"agg_time_dimension": "event_time"},
        "entities": [{"name": "user", "type": "primary", "expr": "user_id"}],
        "dimensions": [
            {"name": "event_time", "type": "time",
             "expr": "CAST(ts AS TIMESTAMP)",
             "type_params": {"time_granularity": "day"}},
            {"name": "etype", "type": "categorical", "expr": "event_type"},
        ],
        "measures": [
            {"name": "signups", "agg": "count", "expr": "1",
             "filter": "{{ Dimension('etype') }} = 'signup'"},
            {"name": "purchases", "agg": "count", "expr": "1",
             "filter": "{{ Dimension('etype') }} = 'purchase'"},
        ],
    }
    metrics = [
        {"name": "signup_conversions", "type": "conversion", "label": "c",
         "type_params": {"conversion_type_params": {
             "base_measure": "signups", "conversion_measure": "purchases",
             "entity": "user", "window": "7 days",
             "calculation": "conversions"}}},
        {"name": "signup_conversion_rate", "type": "conversion", "label": "r",
         "type_params": {"conversion_type_params": {
             "base_measure": "signups", "conversion_measure": "purchases",
             "entity": "user", "window": "7 days",
             "calculation": "conversion_rate"}}},
    ]
    sql = compile_metrics_sql(
        ["signup_conversions", "signup_conversion_rate"], metrics, [sm],
        {"events": "events"},
        group_by=["metric_time__month"],
    )
    out = spark.sql(sql)
    return out.select(
        F.col("metric_time__month").cast("timestamp").alias("month"),
        F.col("signup_conversions"),
        F.round("signup_conversion_rate", 6).alias("conversion_rate"),
    )


def semantic_entity_joined_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-linked cross-model dimension: metrics measured on orders,
    grouped AND filtered by `customer__mktsegment` — a dimension that lives
    on a different semantic model (customer) reached through the shared
    `customer` entity (reference parses entity links:
    core/dbt/artifacts/resources/v1/semantic_model.py:201-206; MetricFlow
    resolves them at query time — plans/metric_compile.py:_LinkedModel is
    that resolution, Spark-first).

    Scale: the hop compiles to ONE LEFT JOIN against a 2-column projection
    of customer (entity key + segment) — Catalyst column-prunes the dim
    scan and AQE broadcasts it; the orders fact never re-shuffles for the
    join, and the aggregate stays a single map-side-partial shuffle on the
    group keys."""
    from dbt_spark.plans.metric_compile import compile_metrics_sql
    from dbt_spark.session import load_tables

    load_tables(spark, sf_dir, "orders", "customer")
    orders_sm = {
        "name": "orders_sm",
        "model": "ref('orders')",
        "defaults": {"agg_time_dimension": "order_date"},
        "entities": [
            {"name": "order", "type": "primary", "expr": "o_orderkey"},
            {"name": "customer", "type": "foreign", "expr": "o_custkey"},
        ],
        "dimensions": [
            {"name": "order_date", "type": "time", "expr": "o_orderdate",
             "type_params": {"time_granularity": "day"}},
            {"name": "status", "type": "categorical", "expr": "o_orderstatus"},
        ],
        "measures": [
            {"name": "order_count", "agg": "count", "expr": "1"},
            {"name": "order_total_dec", "agg": "sum",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))"},
        ],
    }
    customer_sm = {
        "name": "customer_sm",
        "model": "ref('customer')",
        "entities": [
            {"name": "customer", "type": "primary", "expr": "c_custkey"}],
        "dimensions": [
            {"name": "mktsegment", "type": "categorical",
             "expr": "c_mktsegment"}],
        "measures": [{"name": "customer_count", "agg": "count", "expr": "1"}],
    }
    metrics = [
        {"name": "revenue_dec", "type": "simple",
         "type_params": {"measure": "order_total_dec"}},
        {"name": "n_orders", "type": "simple",
         "type_params": {"measure": "order_count"}},
    ]
    sql = compile_metrics_sql(
        ["revenue_dec", "n_orders"], metrics, [orders_sm, customer_sm],
        {"orders": "orders", "customer": "customer"},
        group_by=["customer__mktsegment", "status"],
        where="{{ Dimension('customer__mktsegment') }} <> 'MACHINERY'",
        order_by=["customer__mktsegment", "status"],
    )
    return spark.sql(sql).select(
        F.col("customer__mktsegment").alias("segment"),
        F.col("status"),
        F.col("revenue_dec").cast("double").alias("revenue"),
        F.col("n_orders").cast("long").alias("n_orders"),
    )


def semantic_metric_timespine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_to_timespine + fill_nulls_with on a metric's input measure
    (core/dbt/artifacts/resources/v1/metric.py:36-37, MetricInputMeasure):
    pending revenue by month where months with NO pending orders still
    appear, zero-filled — the compiled query LEFT JOINs the aggregate onto
    a generated month spine spanning the measure owner's own time range.

    Scale: the spine is sequence() over two scalar-subquery bounds (a
    2-value min/max scan) exploded to O(periods) rows — never a scan-sized
    structure; the fill join is spine ⟕ aggregate at group-by cardinality."""
    from dbt_spark.plans.metric_compile import compile_metrics_sql
    from dbt_spark.session import load_tables

    load_tables(spark, sf_dir, "orders")
    sm = {
        "name": "orders_sm",
        "model": "ref('orders')",
        "defaults": {"agg_time_dimension": "order_date"},
        "entities": [
            {"name": "order", "type": "primary", "expr": "o_orderkey"}],
        "dimensions": [
            {"name": "order_date", "type": "time", "expr": "o_orderdate",
             "type_params": {"time_granularity": "day"}},
            {"name": "status", "type": "categorical", "expr": "o_orderstatus"},
        ],
        "measures": [
            {"name": "order_total_dec", "agg": "sum",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))"},
        ],
    }
    metrics = [
        {"name": "pending_revenue", "type": "simple",
         "type_params": {"measure": {
             "name": "order_total_dec",
             "join_to_timespine": True,
             "fill_nulls_with": 0}},
         "filter": "{{ Dimension('status') }} = 'P'"},
    ]
    sql = compile_metrics_sql(
        ["pending_revenue"], metrics, [sm], {"orders": "orders"},
        group_by=["metric_time__month"],
        order_by=["metric_time__month"],
    )
    return spark.sql(sql).select(
        F.col("metric_time__month").cast("timestamp").alias("month"),
        F.col("pending_revenue").cast("double").alias("pending_revenue"),
    )


def semantic_metric_custom_timespine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-declared time-spine model + custom granularity (reference
    model-level ``time_spine:`` config — core/dbt/artifacts/resources/v1/
    model.py:26-35 TimeSpine/CustomGranularity, parsed core/dbt/parser/
    schemas.py:730-744): pending revenue by FISCAL QUARTER (fiscal year
    starts Dec 1), where quarters with no pending orders still appear
    zero-filled — join_to_timespine enumerates periods from the DECLARED
    spine model (a fiscal-calendar table), not a generated sequence, and
    the group-by grain is the spine's custom column.

    Scale: the spine is O(days) rows (2,557 here) — the fact's day-grain
    time dim LEFT JOINs it (broadcast, unique-per-day so it can never fan
    out), and the fill join runs at group-by cardinality."""
    from dbt_spark.plans.metric_compile import compile_metrics_sql
    from dbt_spark.session import load_tables

    load_tables(spark, sf_dir, "orders")
    # the user's declared spine model: one row per day with the fiscal
    # calendar column (what a fiscal_calendar.sql model materializes)
    spark.sql("""
        SELECT date_day,
               concat('FY', year(date_day + INTERVAL 1 MONTH), 'Q',
                      quarter(date_day + INTERVAL 1 MONTH)) AS fq
        FROM (SELECT explode(sequence(DATE'1992-01-01', DATE'2002-12-31',
                                      INTERVAL 1 DAY)) AS date_day)
    """).createOrReplaceTempView("fiscal_days")
    sm = {
        "name": "orders_sm",
        "model": "ref('orders')",
        "defaults": {"agg_time_dimension": "order_date"},
        "entities": [
            {"name": "order", "type": "primary", "expr": "o_orderkey"}],
        "dimensions": [
            {"name": "order_date", "type": "time", "expr": "o_orderdate",
             "type_params": {"time_granularity": "day"}},
            {"name": "status", "type": "categorical", "expr": "o_orderstatus"},
        ],
        "measures": [
            {"name": "order_total_dec", "agg": "sum",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))"},
        ],
    }
    metrics = [
        {"name": "pending_revenue", "type": "simple",
         "type_params": {"measure": {
             "name": "order_total_dec",
             "join_to_timespine": True,
             "fill_nulls_with": 0}},
         "filter": "{{ Dimension('status') }} = 'P'"},
    ]
    spine = {
        "model": "fiscal_days",
        "standard_granularity_column": "date_day",
        "granularity": "day",
        "custom_granularities": [
            {"name": "fiscal_quarter", "column_name": "fq"}],
    }
    sql = compile_metrics_sql(
        ["pending_revenue"], metrics, [sm],
        {"orders": "orders", "fiscal_days": "fiscal_days"},
        group_by=["metric_time__fiscal_quarter"],
        order_by=["metric_time__fiscal_quarter"],
        time_spines=[spine],
    )
    return spark.sql(sql).select(
        F.col("metric_time__fiscal_quarter").alias("fiscal_quarter"),
        F.col("pending_revenue").cast("double").alias("pending_revenue"),
    )


def semantic_entity_two_hop_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop entity link: metrics measured on orders, grouped by
    ``customer__nation__nation_name`` — a dimension TWO entity hops away
    (orders→customer via the shared `customer` entity, customer→nation via
    the shared `nation` entity). The reference parses entity links
    (core/dbt/artifacts/resources/v1/semantic_model.py:201-206) and hands
    multi-hop resolution to MetricFlow; _LinkedModel._find_target chases
    the chain here, each hop primary/unique-guarded.

    Scale: the chain compiles to nested LEFT JOINs at DIMENSION cardinality
    — nation joins inside customer's key+dim projection subquery, so the
    orders fact sees exactly one broadcastable dim join and never
    re-shuffles; both dim scans are column-pruned to key+name."""
    from dbt_spark.plans.metric_compile import compile_metrics_sql
    from dbt_spark.session import load_tables

    load_tables(spark, sf_dir, "orders", "customer", "nation")
    orders_sm = {
        "name": "orders_sm",
        "model": "ref('orders')",
        "defaults": {"agg_time_dimension": "order_date"},
        "entities": [
            {"name": "order", "type": "primary", "expr": "o_orderkey"},
            {"name": "customer", "type": "foreign", "expr": "o_custkey"},
        ],
        "dimensions": [
            {"name": "order_date", "type": "time", "expr": "o_orderdate",
             "type_params": {"time_granularity": "day"}},
        ],
        "measures": [
            {"name": "order_count", "agg": "count", "expr": "1"},
            {"name": "order_total_dec", "agg": "sum",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))"},
        ],
    }
    customer_sm = {
        "name": "customer_sm",
        "model": "ref('customer')",
        "entities": [
            {"name": "customer", "type": "primary", "expr": "c_custkey"},
            {"name": "nation", "type": "foreign", "expr": "c_nationkey"},
        ],
        "dimensions": [
            {"name": "mktsegment", "type": "categorical",
             "expr": "c_mktsegment"}],
        "measures": [{"name": "customer_count", "agg": "count", "expr": "1"}],
    }
    nation_sm = {
        "name": "nation_sm",
        "model": "ref('nation')",
        "entities": [
            {"name": "nation", "type": "primary", "expr": "n_nationkey"}],
        "dimensions": [
            {"name": "nation_name", "type": "categorical", "expr": "n_name"}],
        "measures": [{"name": "nation_count", "agg": "count", "expr": "1"}],
    }
    metrics = [
        {"name": "revenue_dec", "type": "simple",
         "type_params": {"measure": "order_total_dec"}},
        {"name": "n_orders", "type": "simple",
         "type_params": {"measure": "order_count"}},
    ]
    sql = compile_metrics_sql(
        ["revenue_dec", "n_orders"], metrics,
        [orders_sm, customer_sm, nation_sm],
        {"orders": "orders", "customer": "customer", "nation": "nation"},
        group_by=["customer__nation__nation_name"],
        order_by=["customer__nation__nation_name"],
    )
    return spark.sql(sql).select(
        F.col("customer__nation__nation_name").alias("nation_name"),
        F.col("revenue_dec").cast("double").alias("revenue"),
        F.col("n_orders").cast("long").alias("n_orders"),
    )


def semantic_semi_additive_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure via non_additive_dimension
    (core/dbt/artifacts/resources/v1/semantic_model.py:143-147
    NonAdditiveDimension, :158 Measure.non_additive_dimension): treat each
    order as a balance snapshot — monthly "total balance" sums, per
    customer, only the rows at that customer's LATEST order date inside the
    month (window_choice: max, window_groupings: [customer]); additive over
    customers, non-additive over time.

    Scale: the window compiles to a GROUP BY (customer, month) aggregate —
    map-side partial, group-cardinality output — joined back to the fact on
    the grouping keys + snapshot-date equality; deliberately NOT an
    unpartitioned MIN/MAX OVER () window, so no single-task sort at 100 TB
    and AQE can broadcast the window-value side."""
    from dbt_spark.plans.metric_compile import compile_metrics_sql
    from dbt_spark.session import load_tables

    load_tables(spark, sf_dir, "orders")
    sm = {
        "name": "orders_sm",
        "model": "ref('orders')",
        "defaults": {"agg_time_dimension": "order_date"},
        "entities": [
            {"name": "order", "type": "primary", "expr": "o_orderkey"},
            {"name": "customer", "type": "foreign", "expr": "o_custkey"},
        ],
        "dimensions": [
            {"name": "order_date", "type": "time", "expr": "o_orderdate",
             "type_params": {"time_granularity": "day"}},
        ],
        "measures": [
            {"name": "eod_balance", "agg": "sum",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))",
             "non_additive_dimension": {
                 "name": "order_date", "window_choice": "max",
                 "window_groupings": ["customer"]}},
            {"name": "bod_balance", "agg": "sum",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))",
             "non_additive_dimension": {
                 "name": "order_date", "window_choice": "min",
                 "window_groupings": ["customer"]}},
        ],
    }
    metrics = [
        {"name": "month_end_balance", "type": "simple",
         "type_params": {"measure": "eod_balance"}},
        {"name": "month_start_balance", "type": "simple",
         "type_params": {"measure": "bod_balance"}},
    ]
    sql = compile_metrics_sql(
        ["month_end_balance", "month_start_balance"], metrics, [sm],
        {"orders": "orders"},
        group_by=["metric_time__month"],
        order_by=["metric_time__month"],
    )
    return spark.sql(sql).select(
        F.col("metric_time__month").cast("timestamp").alias("month"),
        F.col("month_end_balance").cast("double").alias("month_end_balance"),
        F.col("month_start_balance").cast("double")
        .alias("month_start_balance"),
    )


def semantic_metric_input_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MetricInput-shaped ratio + measure features in one compile
    (core/dbt/artifacts/resources/v1/metric.py:100-103 —
    MetricTypeParams.numerator/denominator are MetricInput refs;
    v1/semantic_model.py:136-140 MeasureAggregationParameters, :154
    Measure.create_metric):

    - ``fulfilled_share``: a ratio whose numerator is the METRIC ``revenue``
      narrowed by an input-level filter LIST (WhereFilterIntersection) and
      whose denominator is the same metric unfiltered;
    - ``price_p90``: a percentile measure with use_discrete_percentile
      (PERCENTILE_DISC — an actual data value, exactly comparable across
      engines, unlike interpolated continuous percentiles);
    - ``avg_price``: requested directly as a measure proxy — the measure
      declares ``create_metric: true`` and uses the reference's
      ``average`` agg spelling.

    Scale: everything fuses into ONE aggregate over one scan (the ratio's
    filtered leg is a CASE WHEN guard inside the same GROUP BY, not a second
    scan); PERCENTILE_DISC is the only non-algebraic aggregate and Spark
    runs it as a typed-imperative agg within the same exchange."""
    from dbt_spark.plans.metric_compile import compile_metrics_sql
    from dbt_spark.session import load_tables

    load_tables(spark, sf_dir, "orders")
    sm = {
        "name": "orders_sm",
        "model": "ref('orders')",
        "defaults": {"agg_time_dimension": "order_date"},
        "entities": [
            {"name": "order", "type": "primary", "expr": "o_orderkey"}],
        "dimensions": [
            {"name": "order_date", "type": "time", "expr": "o_orderdate",
             "type_params": {"time_granularity": "day"}},
            {"name": "status", "type": "categorical", "expr": "o_orderstatus"},
            {"name": "prio", "type": "categorical", "expr": "o_orderpriority"},
        ],
        "measures": [
            {"name": "order_total_dec", "agg": "sum",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))"},
            {"name": "price_p90_disc", "agg": "percentile",
             "expr": "o_totalprice",
             "agg_params": {"percentile": 0.9,
                            "use_discrete_percentile": True}},
            {"name": "avg_price", "agg": "average",
             "expr": "CAST(o_totalprice AS DECIMAL(18,2))",
             "create_metric": True},
        ],
    }
    metrics = [
        {"name": "revenue", "type": "simple",
         "type_params": {"measure": "order_total_dec"}},
        {"name": "fulfilled_share", "type": "ratio",
         "type_params": {
             "numerator": {
                 "name": "revenue",
                 "filter": ["{{ Dimension('status') }} = 'F'",
                            "{{ Dimension('prio') }} <> '5-LOW'"]},
             "denominator": {"name": "revenue"}}},
        {"name": "p90_price", "type": "simple",
         "type_params": {"measure": "price_p90_disc"}},
    ]
    sql = compile_metrics_sql(
        ["fulfilled_share", "p90_price", "avg_price"], metrics, [sm],
        {"orders": "orders"},
        group_by=["status"],
        order_by=["status"],
    )
    return spark.sql(sql).select(
        F.col("status"),
        F.round(F.col("fulfilled_share"), 6).alias("fulfilled_share"),
        F.col("p90_price").cast("double").alias("p90_price"),
        F.round(F.col("avg_price").cast("double"), 6).alias("avg_price"),
    )


@scratch_query
def cobucketed_join_zeroshuffle(spark: SparkSession, sf_dir: str,
                                scratch: Scratch) -> DataFrame:
    """Co-bucketed join through the REAL bucketed-table writer: orders and
    customer both hash-bucketed by custkey into the same bucket count, then
    joined on the bucket key — Catalyst reads the bucket spec as the scans'
    outputPartitioning and elides BOTH shuffle exchanges. The function
    RAISES if the join plan contains an exchange, so the driver's
    correctness gate doubles as the zero-shuffle plan gate.

    The 100 TB primitive: a nightly fact⋈fact join over co-bucketed layouts
    is a per-bucket local merge, not a cluster-wide shuffle."""
    ctx = _mini_ctx(spark, scratch)
    t = load_tables(spark, sf_dir, "orders", "customer")
    ctx.store.write_bucketed(
        "main", "orders_b", t["orders"].select("o_orderkey", "o_custkey",
                                               "o_totalprice"),
        bucket_by=["o_custkey"], buckets=8,
    )
    ctx.store.write_bucketed(
        "main", "cust_b", t["customer"].select("c_custkey", "c_mktsegment"),
        bucket_by=["c_custkey"], buckets=8,
    )
    o = spark.table("main__orders_b")
    c = spark.table("main__cust_b")
    # merge-join hint: at test scale the dim side would broadcast (also
    # shuffle-free, but trivially so); the property under test is the
    # 100 TB fact⋈fact case where SMJ over co-bucketed scans elides BOTH
    # hash-partition exchanges
    joined = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "simple")
    if "Exchange hashpartitioning" in plan:
        raise RuntimeError(
            "co-bucketed join plan contains a shuffle exchange:\n" + plan)
    if "SortMergeJoin" not in plan:
        raise RuntimeError("expected SortMergeJoin over bucketed scans:\n" + plan)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


from dbt_spark.functions.pii import EMAIL_RE as _EM, IPV4_RE as _IP, PHONE_RE as _PH  # noqa: E402

ORACLES: dict[str, str] = {
    "engine_pii_scrub_model": f"""
        WITH m AS (
            SELECT doc_id, lang,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@' || source || '.example.com' AS text
            FROM documents
        ), r AS (
            SELECT doc_id, lang,
                   regexp_replace(regexp_replace(regexp_replace(
                       text, '{_EM}', '<EMAIL>', 'g'),
                       '{_PH}', '<PHONE>', 'g'),
                       '{_IP}', '<IP>', 'g') AS text
            FROM m
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               md5(string_agg(md5(text), '' ORDER BY doc_id)) AS redacted_md5
        FROM r GROUP BY lang ORDER BY lang
    """,
    "cobucketed_join_zeroshuffle": """
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    "semantic_conversion_metric": """
        WITH b AS (
            SELECT CAST(DATE_TRUNC('MONTH', CAST(ts AS TIMESTAMP)) AS DATE)
                       AS month,
                   user_id AS __e, CAST(ts AS TIMESTAMP) AS __t
            FROM events WHERE event_type = 'signup'
        ),
        c AS (
            SELECT user_id AS __e, CAST(ts AS TIMESTAMP) AS __t
            FROM events WHERE event_type = 'purchase'
        ),
        s AS (
            SELECT * FROM b WHERE EXISTS (
                SELECT 1 FROM c
                WHERE c.__e = b.__e AND c.__t > b.__t
                  AND c.__t <= b.__t + INTERVAL 7 DAY)
        ),
        g1 AS (SELECT month, count(*) AS bn FROM b GROUP BY month),
        g2 AS (SELECT month, count(*) AS cn FROM s GROUP BY month)
        SELECT CAST(g1.month AS TIMESTAMP) AS month,
               CAST(COALESCE(g2.cn, 0) AS BIGINT) AS signup_conversions,
               round(CAST(COALESCE(g2.cn, 0) AS DOUBLE)
                     / CAST(g1.bn AS DOUBLE), 6) AS conversion_rate
        FROM g1 LEFT JOIN g2 ON g1.month = g2.month
    """,
    "semantic_entity_joined_dimension": """
        SELECT c.c_mktsegment AS segment,
               o.o_orderstatus AS status,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(1) AS BIGINT) AS n_orders
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment <> 'MACHINERY'
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "semantic_metric_timespine": """
        WITH bounds AS (
            SELECT CAST(DATE_TRUNC('MONTH', MIN(o_orderdate)) AS DATE) AS lo,
                   CAST(DATE_TRUNC('MONTH', MAX(o_orderdate)) AS DATE) AS hi
            FROM orders),
        spine AS (
            SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                        CAST(hi AS TIMESTAMP), INTERVAL 1 MONTH)) AS DATE)
                       AS m
            FROM bounds),
        res AS (
            SELECT CAST(DATE_TRUNC('MONTH', o_orderdate) AS DATE) AS m,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders WHERE o_orderstatus = 'P' GROUP BY 1)
        SELECT CAST(s.m AS TIMESTAMP) AS month,
               CAST(COALESCE(r.rev, 0) AS DOUBLE) AS pending_revenue
        FROM spine s LEFT JOIN res r ON s.m = r.m
        ORDER BY 1
    """,
    "semantic_metric_custom_timespine": """
        WITH spine AS (
            SELECT CAST(unnest(generate_series(DATE '1992-01-01',
                        DATE '2002-12-31', INTERVAL 1 DAY)) AS DATE) AS d
        ),
        fqs AS (
            SELECT DISTINCT
                   concat('FY', CAST(year(d + INTERVAL 1 MONTH) AS VARCHAR),
                          'Q', CAST(quarter(d + INTERVAL 1 MONTH) AS VARCHAR))
                       AS fiscal_quarter
            FROM spine
        ),
        res AS (
            SELECT concat('FY',
                          CAST(year(CAST(o_orderdate AS DATE)
                                    + INTERVAL 1 MONTH) AS VARCHAR),
                          'Q',
                          CAST(quarter(CAST(o_orderdate AS DATE)
                                       + INTERVAL 1 MONTH) AS VARCHAR))
                       AS fiscal_quarter,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders WHERE o_orderstatus = 'P' GROUP BY 1
        )
        SELECT f.fiscal_quarter,
               CAST(COALESCE(r.rev, 0) AS DOUBLE) AS pending_revenue
        FROM fqs f LEFT JOIN res r ON f.fiscal_quarter = r.fiscal_quarter
        ORDER BY 1
    """,
    "semantic_entity_two_hop_dimension": """
        SELECT n.n_name AS nation_name,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(1) AS BIGINT) AS n_orders
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1 ORDER BY 1
    """,
    "semantic_semi_additive_metric": """
        WITH w AS (
            SELECT o_custkey, CAST(DATE_TRUNC('MONTH', o_orderdate) AS DATE) AS m,
                   MAX(o_orderdate) AS mx, MIN(o_orderdate) AS mn
            FROM orders GROUP BY 1, 2
        ),
        e AS (
            SELECT w.m, SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS eod
            FROM orders o JOIN w ON o.o_custkey = w.o_custkey
                AND CAST(DATE_TRUNC('MONTH', o.o_orderdate) AS DATE) = w.m
                AND o.o_orderdate = w.mx
            GROUP BY 1
        ),
        b AS (
            SELECT w.m, SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS bod
            FROM orders o JOIN w ON o.o_custkey = w.o_custkey
                AND CAST(DATE_TRUNC('MONTH', o.o_orderdate) AS DATE) = w.m
                AND o.o_orderdate = w.mn
            GROUP BY 1
        )
        SELECT CAST(e.m AS TIMESTAMP) AS month,
               CAST(e.eod AS DOUBLE) AS month_end_balance,
               CAST(b.bod AS DOUBLE) AS month_start_balance
        FROM e JOIN b ON e.m = b.m
        ORDER BY 1
    """,
    "semantic_metric_input_ratio": """
        WITH p90 AS (
            SELECT status, x AS p90_price FROM (
                SELECT o_orderstatus AS status, o_totalprice AS x,
                       ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_totalprice) AS rn,
                       COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
                FROM orders)
            WHERE rn = CAST(CEIL(0.9 * n) AS BIGINT)
        ),
        agg AS (
            SELECT o_orderstatus AS status,
                   round(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                                        AND o_orderpriority <> '5-LOW'
                                  THEN CAST(o_totalprice AS DECIMAL(18,2))
                                  END) AS DOUBLE)
                         / NULLIF(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                       AS DOUBLE), 0), 6) AS fulfilled_share,
                   round(CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2)))
                              AS DOUBLE), 6) AS avg_price
            FROM orders GROUP BY 1
        )
        SELECT agg.status, agg.fulfilled_share, p90.p90_price, agg.avg_price
        FROM agg JOIN p90 ON agg.status = p90.status
        ORDER BY 1
    """,
    "semantic_metric_query": """
        SELECT o_orderstatus AS status,
               CAST(CAST(DATE_TRUNC('MONTH', o_orderdate) AS DATE)
                    AS TIMESTAMP) AS metric_time__month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(1) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / NULLIF(CAST(COUNT(1) AS DOUBLE), 0) AS aov
        FROM orders
        WHERE o_orderstatus <> 'P'
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "snapshot_hard_delete": f"""
        WITH kept    AS (SELECT * FROM supplier WHERE s_suppkey % 10 != 0),
             dropped AS (SELECT * FROM supplier WHERE s_suppkey % 10 = 0)
        -- kept keys: v1 still current
        SELECT s_suppkey, s_name,
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-01-01 00:00:00'))
                   AS dbt_scd_id,
               TIMESTAMP '{T1}' AS dbt_valid_from,
               CAST(NULL AS TIMESTAMP) AS dbt_valid_to,
               FALSE AS dbt_is_deleted
        FROM kept
        UNION ALL
        -- dropped keys: v1 closed at T2
        SELECT s_suppkey, s_name,
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-01-01 00:00:00')),
               TIMESTAMP '{T1}', TIMESTAMP '{T2}', FALSE
        FROM dropped
        UNION ALL
        -- dropped keys: current deletion-marker row
        SELECT s_suppkey, s_name,
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-06-01 00:00:00')),
               TIMESTAMP '{T2}', CAST(NULL AS TIMESTAMP), TRUE
        FROM dropped
    """,
    "contract_enforced_model": """
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               TRUE AS bad_model_rejected
        FROM nation
    """,
    "clone_state_relations": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_totalprice > 300000
    """,
    "hooks_audit_trail": """
        SELECT 'urgent_orders' AS model_name,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    "python_model_run": """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders WHERE o_custkey < 1000
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "unit_test_fixture_diff": """
        SELECT * FROM (VALUES ('ut_doc_stats_fail', 'fail'),
                              ('ut_doc_stats_pass', 'pass'))
            AS t(unit_test, status)
        ORDER BY unit_test
    """,
    "incremental_append": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    """,
    "incremental_merge_acid": """
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice
        FROM orders
    """,
    "incremental_merge": """
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice
        FROM orders
    """,
    "incremental_custom_strategy": """
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, 'Y' AS o_orderstatus FROM orders
        WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
    """,
    "incremental_delete_insert": """
        SELECT o_orderkey,
               CASE WHEN o_custkey % 7 = 0 THEN 'Z' ELSE o_orderpriority END
                   AS o_orderpriority
        FROM orders
    """,
    "incremental_insert_overwrite": """
        SELECT o_orderkey, o_totalprice,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) != 1997
        UNION ALL
        SELECT o_orderkey, o_totalprice,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) = 1997 AND o_totalprice > 100000
    """,
    "microbatch_backfill": """
        SELECT event_id, ts, event_type, value FROM events
        WHERE ts < TIMESTAMP '2024-01-07'
    """,
    "snapshot_scd2_timestamp": f"""
        WITH changed AS (SELECT * FROM supplier WHERE s_suppkey % 7 = 0),
             stable  AS (SELECT * FROM supplier WHERE s_suppkey % 7 != 0)
        -- stable current rows (v1)
        SELECT s_suppkey, s_name,
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-01-01 00:00:00'))
                   AS dbt_scd_id,
               TIMESTAMP '{T1}' AS dbt_valid_from,
               CAST(NULL AS TIMESTAMP) AS dbt_valid_to
        FROM stable
        UNION ALL
        -- closed v1 of changed keys
        SELECT s_suppkey, s_name,
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-01-01 00:00:00')),
               TIMESTAMP '{T1}', TIMESTAMP '{T2}'
        FROM changed
        UNION ALL
        -- current v2 of changed keys
        SELECT s_suppkey, s_name || '_v2',
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-06-01 00:00:00')),
               TIMESTAMP '{T2}', CAST(NULL AS TIMESTAMP)
        FROM changed
    """,
    "snapshot_scd2_check": f"""
        WITH changed AS (SELECT * FROM supplier WHERE s_suppkey % 7 = 0),
             stable  AS (SELECT * FROM supplier WHERE s_suppkey % 7 != 0)
        SELECT s_suppkey, s_name,
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-01-01 00:00:00'))
                   AS dbt_scd_id,
               TIMESTAMP '{T1}' AS dbt_valid_from,
               CAST(NULL AS TIMESTAMP) AS dbt_valid_to
        FROM stable
        UNION ALL
        SELECT s_suppkey, s_name,
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-01-01 00:00:00')),
               TIMESTAMP '{T1}', TIMESTAMP '{T2}'
        FROM changed
        UNION ALL
        SELECT s_suppkey, s_name || '_v2',
               md5(concat(CAST(s_suppkey AS VARCHAR), '|', '2020-06-01 00:00:00')),
               TIMESTAMP '{T2}', CAST(NULL AS TIMESTAMP)
        FROM changed
    """,
    "seed_load": "SELECT * FROM region",
    "test_not_null_failing_rows": """
        SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IS NULL
    """,
    "test_unique_failing_rows": """
        SELECT o_custkey AS unique_field, count(*) AS n_records FROM orders
        WHERE o_custkey IS NOT NULL GROUP BY o_custkey HAVING count(*) > 1
    """,
    "test_accepted_values_failing_rows": """
        SELECT o_orderstatus AS value_field, count(*) AS n_records FROM orders
        GROUP BY o_orderstatus HAVING o_orderstatus NOT IN ('O', 'F')
    """,
    "test_relationships_failing_rows": """
        SELECT DISTINCT e.user_id AS from_field FROM events e
        LEFT JOIN nation n ON e.user_id = n.n_nationkey
        WHERE e.user_id IS NOT NULL AND n.n_nationkey IS NULL
    """,
    "utilpack_accepted_range": """
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer WHERE NOT (TRUE AND c_acctbal >= 0)
    """,
    "utilpack_equal_rowcount_grouped": """
        WITH a AS (SELECT n_regionkey, count(*) AS count_a
                   FROM nation GROUP BY n_regionkey),
             b AS (SELECT n_regionkey, count(*) AS count_b
                   FROM nation WHERE n_nationkey < 20 GROUP BY n_regionkey)
        SELECT n_regionkey,
               coalesce(count_a, 0) AS count_a,
               coalesce(count_b, 0) AS count_b
        FROM a FULL OUTER JOIN b USING (n_regionkey)
        WHERE coalesce(count_a, 0) != coalesce(count_b, 0)
    """,
    "utilpack_sequential_values": """
        WITH windowed AS (
            SELECT o_orderkey AS current_value,
                   lag(o_orderkey) OVER (ORDER BY o_orderkey) AS previous_value
            FROM orders WHERE o_orderkey <= 400 AND o_orderkey % 7 != 0
        )
        SELECT * FROM windowed
        WHERE previous_value IS NOT NULL
          AND current_value != previous_value + 1
    """,
    "utilpack_mutually_exclusive_ranges": """
        WITH windowed AS (
            SELECT o_custkey,
                   o_orderdate AS lower_bound,
                   o_orderdate + INTERVAL 30 DAY AS upper_bound,
                   lag(o_orderdate + INTERVAL 30 DAY) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderdate + INTERVAL 30 DAY
                   ) AS previous_upper_bound
            FROM orders WHERE o_custkey < 50
        )
        SELECT * FROM windowed
        WHERE NOT (lower_bound < upper_bound)
           OR (previous_upper_bound IS NOT NULL
               AND NOT (previous_upper_bound <= lower_bound))
    """,
    "utilpack_unique_combination_of_columns": """
        SELECT o_custkey, o_orderstatus, count(*) AS n_records
        FROM orders WHERE o_custkey < 100
        GROUP BY o_custkey, o_orderstatus HAVING count(*) > 1
    """,
    "utilpack_fewer_rows_than_introspective": """
        WITH a AS (SELECT o_orderstatus, count(*) AS count_our_model
                   FROM orders GROUP BY o_orderstatus),
             b AS (SELECT o_orderstatus, count(*) AS count_comparison_model
                   FROM orders WHERE o_orderkey % 2 = 0
                   GROUP BY o_orderstatus)
        SELECT o_orderstatus, count_our_model, count_comparison_model
        FROM a INNER JOIN b USING (o_orderstatus)
        WHERE count_our_model >= count_comparison_model
    """,
    "utilpack_cardinality_equality": """
        WITH a AS (SELECT o_custkey AS v, count(*) AS n
                   FROM orders GROUP BY o_custkey),
             b AS (SELECT c_custkey AS v, count(*) AS n
                   FROM customer GROUP BY c_custkey)
        (SELECT v, n FROM a EXCEPT SELECT v, n FROM b)
        UNION ALL
        (SELECT v, n FROM b EXCEPT SELECT v, n FROM a)
    """,
    "zorder_layout_scan": """
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders
    """,
    "engine_custom_materialization": """
        SELECT o_orderstatus, count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders GROUP BY o_orderstatus
    """,
    "engine_run_e2e": """
        WITH order_stats AS (
            SELECT o_custkey,
                   count(*) AS number_of_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS lifetime_value
            FROM orders GROUP BY o_custkey
        )
        SELECT c.c_custkey, c.c_mktsegment,
               CAST(COALESCE(s.number_of_orders, 0) AS BIGINT) AS number_of_orders,
               COALESCE(s.lifetime_value, 0.0) AS lifetime_value
        FROM customer c LEFT JOIN order_stats s ON c.c_custkey = s.o_custkey
    """,
}

QUERIES = {
    "engine_pii_scrub_model": engine_pii_scrub_model,
    "cobucketed_join_zeroshuffle": cobucketed_join_zeroshuffle,
    "incremental_append": incremental_append,
    "incremental_merge": incremental_merge,
    "incremental_custom_strategy": incremental_custom_strategy,
    "incremental_merge_acid": incremental_merge_acid,
    "incremental_delete_insert": incremental_delete_insert,
    "incremental_insert_overwrite": incremental_insert_overwrite,
    "microbatch_backfill": microbatch_backfill,
    "snapshot_scd2_timestamp": snapshot_scd2_timestamp,
    "snapshot_scd2_check": snapshot_scd2_check,
    "seed_load": seed_load,
    "test_not_null_failing_rows": test_not_null_failing_rows,
    "test_unique_failing_rows": test_unique_failing_rows,
    "test_accepted_values_failing_rows": test_accepted_values_failing_rows,
    "test_relationships_failing_rows": test_relationships_failing_rows,
    "utilpack_accepted_range": utilpack_accepted_range,
    "utilpack_equal_rowcount_grouped": utilpack_equal_rowcount_grouped,
    "utilpack_sequential_values": utilpack_sequential_values,
    "utilpack_mutually_exclusive_ranges": utilpack_mutually_exclusive_ranges,
    "utilpack_cardinality_equality": utilpack_cardinality_equality,
    "utilpack_unique_combination_of_columns":
        utilpack_unique_combination_of_columns,
    "utilpack_fewer_rows_than_introspective":
        utilpack_fewer_rows_than_introspective,
    "engine_run_e2e": engine_run_e2e,
    "engine_custom_materialization": engine_custom_materialization,
    "zorder_layout_scan": zorder_layout_scan,
    "snapshot_hard_delete": snapshot_hard_delete,
    "unit_test_fixture_diff": unit_test_fixture_diff,
    "python_model_run": python_model_run,
    "contract_enforced_model": contract_enforced_model,
    "clone_state_relations": clone_state_relations,
    "hooks_audit_trail": hooks_audit_trail,
    "semantic_metric_query": semantic_metric_query,
    "semantic_conversion_metric": semantic_conversion_metric,
    "semantic_entity_joined_dimension": semantic_entity_joined_dimension,
    "semantic_metric_timespine": semantic_metric_timespine,
    "semantic_metric_custom_timespine": semantic_metric_custom_timespine,
    "semantic_entity_two_hop_dimension": semantic_entity_two_hop_dimension,
    "semantic_semi_additive_metric": semantic_semi_additive_metric,
    "semantic_metric_input_ratio": semantic_metric_input_ratio,
}
