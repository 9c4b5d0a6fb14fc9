"""Differential fuzzing for the data-test severity policy matrix.

Random combinations of the reference's test-config knobs — severity,
warn_if / error_if threshold expressions, fail_calc, limit, where —
evaluated by the REAL test runner (operators/tests.py::run_test over a
dbt_utils.accepted_range with an engineered failing-row count) and
compared against a pure-python reimplementation of the reference policy
(core/dbt/task/test.py:142-197 failures contract, :294-312 severity):

    failures = fail_calc(failing rows [LIMIT n])
    fail  if severity == error and (failures error_if)
    warn  elif (failures warn_if)
    pass  otherwise

Fixed seeds; family base 170k rotated by DBT_SPARK_FUZZ_OFFSET.
"""

from __future__ import annotations

import os
import random
import tempfile

import pytest

from dbt_spark.catalog import RelationStore
from dbt_spark.operators.materialize import ExecutionContext
from dbt_spark.operators.tests import run_test
from dbt_spark.plans.manifest import Manifest, ManifestNode, NodeConfig, NodeType
from dbt_spark.project import Project
from dbt_spark.queries.materializations import _utils_pack_macros

_OFF = int(os.environ.get("DBT_SPARK_FUZZ_OFFSET", "0"))
_BASE = 170_000

ROWS = [(k, k * 10) for k in range(1, 13)]  # v = 10..120


def _gen_case(seed: int):
    rng = random.Random(_BASE + _OFF + seed)
    max_value = rng.choice([0, 15, 45, 85, 125])
    where = rng.choice([None, "k <= 6"])
    limit = rng.choice([None, None, 1, 3, 5])
    fail_calc = "count(*)" if limit is not None else rng.choice(
        ["count(*)", "sum(v)", "count(*) * 2"])
    severity = rng.choice(["warn", "error"])
    warn_if = rng.choice(["!= 0", "> 0", "> 2", "> 5", "> 100", ">= 1000"])
    error_if = rng.choice(["!= 0", "> 0", "> 3", "> 8", "> 10000"])
    return max_value, where, limit, fail_calc, severity, warn_if, error_if


def _expected(max_value, where, limit, fail_calc, severity, warn_if, error_if):
    rows = [(k, v) for (k, v) in ROWS if where is None or k <= 6]
    failing = [(k, v) for (k, v) in rows if not (True and v <= max_value)]
    if limit is not None:
        # LIMIT caps the failing-rows set; with count(*) the value is
        # deterministic regardless of which rows survive
        n = min(len(failing), limit)
        failures = n
    elif fail_calc == "count(*)":
        failures = len(failing)
    elif fail_calc == "count(*) * 2":
        failures = len(failing) * 2
    else:  # sum(v)
        failures = sum(v for (_, v) in failing)
        failures = failures if failing else 0

    def check(expr: str) -> bool:
        op, _, val = expr.partition(" ")
        val = int(val)
        return {"!=": failures != val, ">": failures > val,
                ">=": failures >= val}[op]

    if severity == "error" and check(error_if):
        return failures, "fail"
    if check(warn_if):
        return failures, "warn"
    return failures, "pass"


def _run_case(spark, name, rows, max_value, where, limit, fail_calc,
              severity, warn_if, error_if):
    """run_test over dbt_utils.accepted_range(v, 0..max_value) on a table
    model holding ``rows`` of (k, v)."""
    tmp = tempfile.mkdtemp(prefix="dbt_spark_sevfuzz_")
    project = Project(
        name="sevfuzz", root=tmp,
        profile={"warehouse": os.path.join(tmp, "wh"), "schema": "main",
                 "threads": 2},
    )
    ctx = ExecutionContext(
        spark=spark, store=RelationStore(spark, project.profile["warehouse"]),
        manifest=Manifest(project_name="sevfuzz"), project=project,
    )
    ctx.manifest.macros.update(_utils_pack_macros())
    lits = ", ".join(f"({k}, {v})" for (k, v) in rows)
    model = ManifestNode(
        unique_id="model.sevfuzz.m", name="m", package_name="sevfuzz",
        path="models/m.sql", resource_type=NodeType.Model,
        raw_code=(f"SELECT CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v "
                  f"FROM (VALUES {lits}) AS t(k, v)"),
    )
    from dbt_spark.operators.materialize import materialize_table

    materialize_table(ctx, model)
    ctx.manifest.add(model)
    cfg = NodeConfig(materialized="test").merged(
        severity=severity, warn_if=warn_if, error_if=error_if,
        fail_calc=fail_calc,
        **({"where": where} if where else {}),
        **({"limit": limit} if limit is not None else {}),
    )
    tnode = ManifestNode(
        unique_id=f"test.sevfuzz.{name}", name=name,
        package_name="sevfuzz", path="models/schema.yml",
        resource_type=NodeType.Test, column_name="v",
        test_metadata={"name": "dbt_utils.accepted_range",
                       "kwargs": {"min_value": 0, "max_value": max_value}},
        attached_node="model.sevfuzz.m", config=cfg,
    )
    return run_test(ctx, tnode)


@pytest.mark.parametrize("seed", range(24))
def test_severity_policy_differential(spark, seed):
    max_value, where, limit, fail_calc, severity, warn_if, error_if = (
        _gen_case(seed))
    got = _run_case(spark, f"case{seed}", ROWS, max_value, where, limit,
                    fail_calc, severity, warn_if, error_if)
    want_failures, want_status = _expected(
        max_value, where, limit, fail_calc, severity, warn_if, error_if)
    assert (got.failures, got.status) == (want_failures, want_status), (
        f"seed={seed} max={max_value} where={where} limit={limit} "
        f"fail_calc={fail_calc!r} severity={severity} warn_if={warn_if!r} "
        f"error_if={error_if!r}"
    )


#: (rows, max_value, fail_calc, severity, warn_if, error_if) ->
#: (failures, status). Thresholds are decided on the REPORTED failures
#: value: NULL reads as 0, a fraction truncates, a boolean counts as 1.
_EDGE_CASES = {
    # sum over zero failing rows is NULL: reported 0, and `>= 0` holds
    "null_sum": ((ROWS, 125, "sum(v)", "error", ">= 0", "!= 0"), (0, "warn")),
    # avg 2.5 reports 2, so `> 2` must not fire
    "fractional_avg": (([(1, 2), (2, 3)], 1, "avg(v)", "error", "!= 0",
                        "> 2"), (2, "warn")),
    "case_expr": ((ROWS, 45, "case when count(*) > 0 then count(*) else 0 end",
                   "error", "> 2", "> 5"), (8, "fail")),
    # unparenthesized, `> 0` would bind to the right operand of OR
    "or_expr": ((ROWS, 45, "count(*) > 5 or count(*) < 0", "error", "> 5",
                 "> 0"), (1, "fail")),
    "eq_zero_pass_side": ((ROWS, 125, "count(*)", "error", "= 0", "<> 0"),
                          (0, "warn")),
    "eq_zero_fail_side": ((ROWS, 45, "count(*)", "error", "= 0", ">= 0"),
                          (8, "fail")),
    "ge_zero_on_zero": ((ROWS, 125, "count(*)", "error", "<> 0", ">= 0"),
                        (0, "fail")),
    "ne_zero_warn": ((ROWS, 45, "count(*)", "warn", "<> 0", "= 0"),
                     (8, "warn")),
    # a per-row fail_calc over no failing rows yields no row at all
    "per_row_no_rows": ((ROWS, 125, "v", "error", ">= 0", "!= 0"),
                        (0, "warn")),
}


@pytest.mark.parametrize("case", sorted(_EDGE_CASES))
def test_severity_verdict_edge_cases(spark, case):
    (rows, max_value, fail_calc, severity, warn_if, error_if), want = (
        _EDGE_CASES[case])
    got = _run_case(spark, case, rows, max_value, None, None, fail_calc,
                    severity, warn_if, error_if)
    assert (got.failures, got.status) == want
