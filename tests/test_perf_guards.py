"""Fast structural performance guards — catch the regressions the verify
notes warn about (macro-cache loss, static-parser loss) without a full
bench run. Thresholds are ~10x the observed cost so VM noise can't flake
them; a true regression (the ~90s uncached-macro parse) still fails hard."""

import os
import time


def test_parse_500_models_stays_fast(tmp_path):
    """500 chained models must cold-parse in seconds, not minutes: the
    macro-prelude compile cache and the static-parser fast path both broken
    would put this at ~25s; observed healthy cost is ~0.2s."""
    root = str(tmp_path / "p500")
    os.makedirs(os.path.join(root, "models"), exist_ok=True)
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: p500\n")
    for n in range(500):
        sql = "select 1 as id" if n == 0 else (
            f"select 1 as id union all select * from {{{{ ref('m{n-1}') }}}}"
        )
        with open(os.path.join(root, "models", f"m{n}.sql"), "w") as f:
            f.write(sql)
    from dbt_spark.plans.graph import Linker
    from dbt_spark.project import Project, parse_project

    t0 = time.time()
    m = parse_project(Project.load(root))
    Linker().link_graph(m)
    dt = time.time() - t0
    assert len(m.nodes) == 500
    assert dt < 5.0, f"cold parse of 500 models took {dt:.1f}s"


def test_static_parser_actually_engages(tmp_path):
    """The fast path must handle the plain ref-chain shape (if it falls back
    to rendering for these, the 3.5x parse win silently evaporates)."""
    from dbt_spark.plans.static_parser import static_extract

    got = static_extract(
        "select 1 as id union all select * from {{ ref('node_7') }}")
    assert got == ([(None, "node_7")], [], {})


def test_no_unpartitioned_windows_in_tree():
    """A Window built with .orderBy() and no .partitionBy() forces the whole
    input through ONE task — the scale-killer class round 4 removed from
    train_centroids. Static guard: no `Window.orderBy(...)` / `W.orderBy(...)`
    spec construction anywhere in the package (partitioned windows are built
    as `Window.partitionBy(...).orderBy(...)`, which this does not match).
    If a global window is ever genuinely needed, bound its input with
    orderBy().limit() (TakeOrderedAndProject) instead."""
    import re

    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "dbt_spark")
    offenders = []
    pat = re.compile(r"\bW(?:indow)?\.orderBy\(")
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                for ln, line in enumerate(f, 1):
                    if pat.search(line):
                        offenders.append(f"{path}:{ln}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_iterative_queries_pin_their_round_lineage(spark):
    """The iterative dimension-frame queries (multiplicative-weights
    mixture, Bradley-Terry MM) reference each round's frame more than
    once; without an eager localCheckpoint the final plan re-derives the
    corpus aggregate 2^rounds times. Guard: the FINAL physical plan
    contains no corpus file scan at all — the rounds run purely on
    checkpointed dimension-sized frames."""
    from dbt_spark.queries.curation import bt_preference_strength
    from dbt_spark.queries.llmops import domain_mixture_reweight

    sf = "/root/testdata/sf0.001"
    for fn, scans_allowed in ((domain_mixture_reweight, 0),
                              (bt_preference_strength, 0)):
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        n_scans = plan.count("Scan parquet")
        assert n_scans == scans_allowed, (fn.__name__, n_scans)


def test_lineage_pins_go_through_one_helper():
    """Every lineage pin in the package is ``session.pin``, which picks a
    reliable checkpoint when the session has a checkpoint directory and a
    local one otherwise, for any session however it was built. Guard: no
    ``localCheckpoint(`` or ``.checkpoint(`` outside ``pin``."""
    import ast
    import re

    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "dbt_spark")
    session_py = os.path.join(root, "session.py")
    with open(session_py) as f:
        fn = next(n for n in ast.parse(f.read()).body
                  if isinstance(n, ast.FunctionDef) and n.name == "pin")
    pat = re.compile(r"localCheckpoint\(|\.checkpoint\(")
    offenders, inside = [], 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                for ln, line in enumerate(f, 1):
                    if not pat.search(line):
                        continue
                    if path == session_py and fn.lineno <= ln <= fn.end_lineno:
                        inside += 1
                    else:
                        offenders.append(f"{path}:{ln}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
    assert inside == 2


def test_pin_is_reliable_when_the_session_has_a_checkpoint_dir(tmp_path):
    """A session built with Spark's own ``spark.checkpoint.dir`` (not by
    ``get_spark``) gets reliable pins: eager and lazy ``pin`` write
    checkpoint files there and keep their rows. Runs in its own Spark
    process: a live SparkContext cannot unset its checkpoint directory,
    and the shared session must keep local pins."""
    import json
    import subprocess
    import sys

    ckpt = tmp_path / "ckpt"
    script = f"""
import json, os, sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from pyspark.sql import SparkSession
from dbt_spark.session import pin

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.checkpoint.dir", {str(ckpt)!r}).getOrCreate())

def files():
    return sum(len(fs) for _r, _d, fs in os.walk({str(ckpt)!r}))

eager = pin(spark.range(100), eager=True)
after_eager = files()
lazy = pin(spark.range(10), eager=False)
before_lazy_action = files()
counts = [eager.count(), lazy.count()]
print(json.dumps({{"after_eager": after_eager,
                   "before_lazy_action": before_lazy_action,
                   "after_lazy_action": files(), "counts": counts}}))
spark.stop()
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["counts"] == [100, 10]
    assert got["after_eager"] > 0
    assert got["before_lazy_action"] == got["after_eager"]
    assert got["after_lazy_action"] > got["after_eager"]


def test_codegen_cache_holds_the_working_set(spark):
    """Spark keeps compiled whole-stage-codegen classes in an LRU that
    defaults to 100 entries; a session whose working set is larger
    recompiles every class on every pass (perfbench query_mix: 831 Janino
    compiles per pass). Guard: 150 plans with distinct generated code,
    run twice — the second pass must find every class cached."""
    from dbt_spark.session import CODEGEN_CACHE_ENTRIES, codegen_stats

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)

    def one_pass() -> None:
        # each literal is inlined into its plan's generated code
        for i in range(150):
            spark.range(3).selectExpr(f"id * {i + 2} + {i} AS x").collect()

    one_pass()
    before = codegen_stats(spark)
    one_pass()
    assert codegen_stats(spark) == before


def test_engine_nodes_skip_redundant_spark_round_trips(project_dir, spark,
                                                       tmp_path, monkeypatch):
    """Each node sends Spark only what its own statement needs: a source's
    temp view is swapped once per invocation, a view node launches no job,
    a data test is decided inside its failure query, and a table written
    as plain parquet is registered without a schema-inference job. Jobs
    are counted through the per-node job group <invocation_id>:<unique_id>,
    on the second of two builds (the first one reads the source cold)."""
    import sys
    from collections import Counter

    from pyspark.sql import SparkSession

    from dbt_spark.catalog import RelationStore
    from dbt_spark.runner import Engine

    src = str(tmp_path / "src_orders")
    spark.range(20).selectExpr("id AS k", "id % 3 AS g").write.parquet(src)
    root = project_dir({
        "dbt_project.yml": "name: rtrip\n",
        "models/sources.yml": (
            "sources:\n  - name: raw\n    tables:\n      - name: orders\n"
            f"        meta: {{location: \"{src}\"}}\n"),
        "models/stg.sql": "select k, g from {{ source('raw', 'orders') }}",
        "models/t.sql": ("{{ config(materialized='table') }}\n"
                         "select k, g from {{ ref('stg') }}"),
        "models/schema.yml": (
            "models:\n  - name: t\n    columns:\n"
            "      - name: k\n        tests: [not_null, unique]\n"
            "      - name: g\n        tests:\n"
            "          - accepted_values: {values: [0, 1, 2]}\n"),
    })
    sc = spark.sparkContext
    test_sql: list[str] = []
    views: list[str] = []

    orig_sql = SparkSession.sql

    def spy_sql(self, query, *a, **kw):
        f = sys._getframe(1)
        while f is not None:
            if (f.f_code.co_name == "run_test"
                    and f.f_code.co_filename.endswith("operators/tests.py")):
                test_sql.append(query)
                break
            f = f.f_back
        return orig_sql(self, query, *a, **kw)

    df_cls = type(spark.range(0))
    orig_view = df_cls.createOrReplaceTempView

    def spy_view(self, name):
        views.append(name)
        return orig_view(self, name)

    orig_register = RelationStore.register
    build = ["cold"]

    def spy_register(self, rel, *a, **kw):
        # the registration's own jobs, under a group of their own
        group = sc.getLocalProperty("spark.jobGroup.id")
        desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(f"register:{build[0]}:{rel.identifier}", "register")
        try:
            return orig_register(self, rel, *a, **kw)
        finally:
            sc.setJobGroup(group or "", desc or "")

    monkeypatch.setattr(SparkSession, "sql", spy_sql)
    monkeypatch.setattr(df_cls, "createOrReplaceTempView", spy_view)
    monkeypatch.setattr(RelationStore, "register", spy_register)

    assert Engine(root, spark=spark).invoke(["build"]).success
    test_sql.clear()
    views.clear()
    build[0] = "warm"
    eng = Engine(root, spark=spark)
    res = eng.invoke(["build"])
    assert res.success, [(r.unique_id, r.message) for r in res.results]
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()

    def jobs(group: str) -> list:
        return list(tracker.getJobIdsForGroup(group))

    inv = eng.events.invocation_id
    n_tests = sum(r.unique_id.startswith("test.") for r in res.results)
    assert n_tests == 3
    broken = {}
    if jobs(f"{inv}:model.rtrip.stg") or not jobs(f"{inv}:model.rtrip.t"):
        broken["per-node job groups: the view runs no job, the table does"] = (
            jobs(f"{inv}:model.rtrip.stg"), jobs(f"{inv}:model.rtrip.t"))
    if len(test_sql) != n_tests:
        broken["one statement per data test"] = test_sql
    if jobs("register:warm:main__t"):
        broken["no schema-inference job registering the written table"] = (
            jobs("register:warm:main__t"))
    swaps = Counter(v for v in views if v.startswith("src__"))
    if swaps != Counter({"src__raw__orders": 1}):
        broken["one source temp-view swap per invocation"] = swaps
    assert not broken, broken
