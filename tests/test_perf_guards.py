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


def test_reliable_checkpoint_knob(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_RELIABLE_CKPT reroutes every localCheckpoint to a
    reliable checkpoint() in the configured dir (the 100 TB escape hatch:
    local checkpoints die with their executor; reliable ones recompute-proof
    the iterative pipelines)."""
    from dbt_spark.session import _install_reliable_checkpoint

    ckpt = tmp_path / "rckpt"
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", str(ckpt))
    cls = type(spark.range(0))
    orig = cls.localCheckpoint
    try:
        _install_reliable_checkpoint(spark)
        df = spark.range(100).localCheckpoint(eager=True)
        assert df.count() == 100
        files = [p for p in ckpt.rglob("*") if p.is_file()]
        assert files, "no reliable checkpoint files written"
        # lazy form still works (materializes on first action)
        lazy = spark.range(10).localCheckpoint(eager=False)
        assert lazy.count() == 10
    finally:
        cls.localCheckpoint = orig


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
