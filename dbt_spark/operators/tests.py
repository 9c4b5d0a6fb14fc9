"""Data tests: the four generic built-ins + singular tests + severity policy.

Reference: failing-rows semantics SURVEY §2D (fixtures
tests/functional/schema_tests/fixtures.py:402-470), execution + the
(failures, should_warn, should_error) contract core/dbt/task/test.py:142-197,
severity policy :294-312, config knobs v1/config.py:165-230.

A test SELECT returns *failing rows*; ``fail_calc`` (default count(*)) is
evaluated over them and compared by ``warn_if``/``error_if``. Everything stays
as Spark aggregates — no collect of failing rows unless store_failures asks
for a persisted audit table.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame

from dbt_spark.operators.materialize import ExecutionContext, compile_sql
from dbt_spark.plans.manifest import ManifestNode


@dataclass
class TestResult:
    failures: int
    status: str  # pass|warn|fail
    unique_id: str


_REF_CALL_RE = re.compile(r"^\s*(ref|source)\s*\(")


def _quoted_list(values: list) -> str:
    return ", ".join(f"'{v}'" if isinstance(v, str) else str(v) for v in values)


def _render_config_sql(ctx: ExecutionContext, node: ManifestNode,
                       text: Optional[str]) -> Optional[str]:
    """Render jinja embedded in a test config SQL fragment (introspective
    `where:` subqueries over {{ ref(...) }}/{{ source(...) }} — reference
    custom-generic-test-config fixture,
    tests/functional/schema_tests/fixtures.py:402-470; the parse side
    captures the embedded calls as graph deps)."""
    if not text or "{{" not in text:
        return text
    from dbt_spark.plans.compile import runtime_render
    from dbt_spark.plans.manifest import NodeType as NT

    frag = ManifestNode(
        unique_id=f"{node.unique_id}.where",
        name=node.name,
        package_name=node.package_name,
        path="",
        resource_type=NT.Operation,
        raw_code=text,
    )
    return runtime_render(
        frag, ctx.manifest,
        resolve_ref=ctx.resolve_ref, resolve_source=ctx.resolve_source,
        this_name=node.name, is_incremental=False,
        full_refresh=ctx.full_refresh,
        var_overrides=dict(ctx.vars),
        target=dict(ctx.project.profile),
    )


def build_generic_test_sql(ctx: ExecutionContext, node: ManifestNode) -> str:
    """Failing-rows SQL for not_null/unique/accepted_values/relationships."""
    meta = node.test_metadata
    test_name = meta["name"]
    kwargs = meta.get("kwargs", {})
    attached = (
        ctx.manifest.nodes.get(node.attached_node)
        or ctx.manifest.sources.get(node.attached_node)
    )
    if attached is None:
        raise ValueError(f"{node.unique_id}: attached node {node.attached_node} missing")
    if attached.unique_id in ctx.manifest.sources:
        rel_ident = ctx.resolve_source(attached)
    else:
        rel_ident = ctx.resolve_ref(attached)
    col = node.column_name
    where = _render_config_sql(ctx, node, node.config.where)
    base = f"(SELECT * FROM {rel_ident}" + (f" WHERE {where})" if where else ")")

    if test_name == "not_null":
        sql = f"SELECT * FROM {base} WHERE {col} IS NULL"
    elif test_name == "unique":
        sql = (
            f"SELECT {col} AS unique_field, count(*) AS n_records FROM {base} "
            f"WHERE {col} IS NOT NULL GROUP BY {col} HAVING count(*) > 1"
        )
    elif test_name == "accepted_values":
        values = kwargs.get("values", [])
        sql = (
            f"SELECT {col} AS value_field, count(*) AS n_records FROM {base} "
            f"GROUP BY {col} HAVING {col} NOT IN ({_quoted_list(values)})"
        )
    elif test_name == "relationships":
        to_node = None
        if node.refs:
            to_node = ctx.manifest.ref_lookup(node.refs[0][1], node.refs[0][0])
        elif node.sources:
            to_node = ctx.manifest.source_lookup(*node.sources[0])
        if to_node is None:
            raise ValueError(f"{node.unique_id}: relationships test needs `to:`")
        parent_ident = (
            ctx.resolve_source(to_node)
            if to_node.unique_id in ctx.manifest.sources
            else ctx.resolve_ref(to_node)
        )
        field = kwargs.get("field", "id")
        sql = (
            f"SELECT child.{col} AS from_field FROM {base} AS child "
            f"LEFT JOIN {parent_ident} AS parent ON child.{col} = parent.{field} "
            f"WHERE child.{col} IS NOT NULL AND parent.{field} IS NULL"
        )
    else:
        # custom generic test: a {% test name(model, column_name) %} macro
        # (parser renames to test_<name>, core/dbt/parser/macros.py:97-99).
        # Namespaced YAML names (`dbt_utils.equal_rowcount`) resolve
        # package-qualified first, then flat (reference test-name resolution,
        # parser/generic_test_builders.py TestBuilder.name handling).
        if "." in test_name:
            pkg, bare = test_name.split(".", 1)
            qualified = f"{pkg}.test_{bare}"
            macro_name = (
                qualified if qualified in ctx.manifest.macros else f"test_{bare}"
            )
        else:
            macro_name = f"test_{test_name}"
        if macro_name not in ctx.manifest.macros:
            raise ValueError(f"{node.unique_id}: unknown generic test {test_name!r}")
        from dbt_spark.plans.compile import runtime_render
        from dbt_spark.plans.manifest import NodeType

        # column_name only for column-level tests (reference TestBuilder
        # passes it only when the test is attached to a column)
        call_kwargs = {"model": base}
        if col is not None:
            call_kwargs["column_name"] = col
        call_kwargs.update(kwargs)

        def _kwarg_literal(v):
            # a kwarg written as `ref('x')`/`source('a','b')` in YAML is a
            # Jinja expression, not a string — emit it raw so runtime_render
            # resolves it to the relation (reference renders test kwargs
            # through Jinja: generic_test_builders.py kwargs rendering).
            # Brace-wrapped spellings ("{{ ref('x') }}") unwrap to the bare
            # expression first.
            if isinstance(v, str):
                bare = v.replace("{{", "").replace("}}", "").strip()
                if _REF_CALL_RE.match(bare):
                    return f"({bare})"
            return repr(v)

        arg_list = ", ".join(f"{k}={_kwarg_literal(v)}" for k, v in call_kwargs.items())
        call_node = ManifestNode(
            unique_id=f"call.{node.unique_id}",
            name=node.name,
            package_name=node.package_name,
            path=node.path,
            resource_type=NodeType.Operation,
            raw_code=f"{{{{ {macro_name}({arg_list}) }}}}",
        )
        from dbt_spark.plans.macros import RuntimeAdapter

        sql = runtime_render(
            call_node,
            ctx.manifest,
            resolve_ref=ctx.resolve_ref,
            resolve_source=ctx.resolve_source,
            this_name=node.name,
            is_incremental=False,
            full_refresh=False,
            run_query=ctx.run_query,
            # introspective test macros (dbt_utils.equality without
            # compare_columns) read columns off the live store
            extra={"adapter": RuntimeAdapter(ctx)},
        ).strip().rstrip(";")
    if node.config.limit:
        sql += f" LIMIT {node.config.limit}"
    return sql


def run_test(ctx: ExecutionContext, node: ManifestNode) -> TestResult:
    ctx.ensure_upstream_registered(node)
    if node.test_metadata:
        sql = build_generic_test_sql(ctx, node)
    else:
        sql = compile_sql(ctx, node)
        if node.config.limit:
            sql = f"SELECT * FROM ({sql}) __t LIMIT {node.config.limit}"
    node.compiled_code = sql
    failures_df: DataFrame = ctx.execute_sql(sql, node=node)

    store_as = node.config.meta.get("store_failures_as")
    if store_as == "view":
        # persisted failing-rows VIEW (store_failures_as, v1/config.py:184-230)
        ctx.store.save_view(f"{ctx.schema}_dbt_test__audit", node.name, sql)
    elif node.config.store_failures or store_as == "table":
        ctx.store.write_table(
            f"{ctx.schema}_dbt_test__audit", node.name, failures_df, kind="table"
        )

    # fail_calc is a SQL expression over the failing rows (task/test.py:171-183),
    # decided in the same query that computes it (the reference get_test_sql
    # shape: failures, should_warn, should_error). The thresholds see exactly
    # the reported value: fractions truncate and booleans count as 0/1 (the
    # BIGINT cast), NULL counts as 0; the parentheses keep a low-precedence
    # fail_calc (OR, CASE) from binding to the threshold's operator.
    # Evaluated directly on the DataFrame — a session temp view here would
    # be shared mutable state across the runner's concurrent test threads
    # and races (thread A's count reads thread B's failing rows).
    def verdict(fail_calc: str) -> list[str]:
        failures_sql = f"coalesce(CAST(({fail_calc}) AS BIGINT), 0)"
        return [f"{failures_sql} AS failures",
                f"({failures_sql} {node.config.warn_if}) AS should_warn",
                f"({failures_sql} {node.config.error_if}) AS should_error"]

    rows = failures_df.selectExpr(
        *verdict(node.config.fail_calc or "count(*)")).collect()
    if not rows:  # a per-row (non-aggregate) fail_calc over no failing rows
        rows = ctx.spark.range(1).selectExpr(*verdict("0")).collect()
    row = rows[0]
    failures = int(row["failures"])
    should_error = bool(row["should_error"])
    should_warn = bool(row["should_warn"])
    if node.config.severity.lower() == "error" and should_error:
        status = "fail"
    elif should_warn:
        status = "warn"
    else:
        status = "pass"
    return TestResult(failures=failures, status=status, unique_id=node.unique_id)
