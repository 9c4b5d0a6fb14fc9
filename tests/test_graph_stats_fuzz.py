"""Differential fuzzing for degree-ordered triangle counting.

Random graphs through the REAL operator (functions/graph_stats.py:
canonical_edges -> triangle_stats) vs an independent pure-python
counter (adjacency-set intersection). Covers: duplicate/reversed input
edges, self-loops, isolated-star hubs (the curse-of-the-last-reducer
shape degree ordering exists for), multi-component graphs, and empty
triangle sets. Fixed seeds; family base 310k rotated by
DBT_SPARK_FUZZ_OFFSET.
"""

from __future__ import annotations

import itertools
import os
import random

import pytest

from dbt_spark.functions.graph_stats import canonical_edges, triangle_stats

_OFF = int(os.environ.get("DBT_SPARK_FUZZ_OFFSET", "0"))
_BASE = 310_000


def _brute(edges: set[tuple[int, int]]) -> dict[int, tuple[int, int]]:
    """node -> (degree, triangles) by adjacency-set intersection."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = {n: 0 for n in adj}
    for u, v in edges:
        for w in adj[u] & adj[v]:
            tri[w] = tri.get(w, 0)  # corners counted below
    # count each triangle once, attribute to all three corners
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    return {n: (len(adj[n]), tri[n]) for n in adj}


def _gen_edges(rng: random.Random) -> list[tuple[int, int]]:
    n = rng.randint(4, 28)
    p = rng.choice([0.08, 0.2, 0.45])
    out = []
    for u in range(n):
        for v in range(u + 1, n):
            if rng.random() < p:
                # raw input may be reversed, duplicated, or a self-loop
                pair = (v, u) if rng.random() < 0.5 else (u, v)
                out.append(pair)
                if rng.random() < 0.2:
                    out.append((pair[1], pair[0]))
    if rng.random() < 0.3:
        out.append((0, 0))
    if rng.random() < 0.4:
        # star hub: high-degree vertex with a few closing edges
        hub = n
        spokes = list(range(min(n, 12)))
        out += [(hub, s) for s in spokes]
        out += [(spokes[i], spokes[i + 1]) for i in range(len(spokes) - 1)
                if rng.random() < 0.5]
    return out


@pytest.mark.parametrize("seed", [_BASE + _OFF + i for i in range(10)])
def test_triangle_stats_vs_bruteforce(spark, seed):
    rng = random.Random(seed)
    raw = _gen_edges(rng)
    df = spark.createDataFrame(
        [(a, b) for a, b in raw], "x long, y long")
    got = {
        r["node"]: (r["degree"], r["triangles"])
        for r in triangle_stats(canonical_edges(df, "x", "y")).collect()
    }
    canon = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    assert got == _brute(canon), f"seed={seed} edges={sorted(canon)}"


def test_triangle_stats_clique_and_coefficient(spark):
    # K5: every node degree 4, C(4,2)=6 triangles per corner, coeff 1.0;
    # int-typed (u, v) ids pack into the same long keys as long ones
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    for df in (
        canonical_edges(spark.createDataFrame(edges, "x long, y long"),
                        "x", "y"),
        spark.createDataFrame(edges, "u int, v int"),
    ):
        rows = triangle_stats(df).collect()
        assert len(rows) == 5
        assert all(r["degree"] == 4 and r["triangles"] == 6
                   and r["clustering_coeff"] == 1.0 for r in rows)


def test_triangle_stats_rejects_out_of_range_node_ids(spark):
    """The packed (degree, node) key assumes ids in [0, 2^32): an id past
    that silently corrupted both the total order and the closing-join key
    before the guard. The guard must RAISE on such ids (adversarial huge-id
    seed, VERDICT r13 directive #4) and stay silent for ids at the
    boundary."""
    huge = 1 << 33  # triangle whose apex id would mis-pack
    bad = spark.createDataFrame(
        [(huge, 1), (huge, 2), (1, 2)], "x long, y long")
    with pytest.raises(Exception, match="node id outside"):
        triangle_stats(canonical_edges(bad, "x", "y")).collect()
    neg = spark.createDataFrame([(-3, 1), (-3, 2), (1, 2)], "x long, y long")
    with pytest.raises(Exception, match="node id outside"):
        triangle_stats(canonical_edges(neg, "x", "y")).collect()
    # max valid id passes and counts exactly
    edge_max = (1 << 32) - 1
    ok = spark.createDataFrame(
        [(edge_max, 1), (edge_max, 2), (1, 2)], "x long, y long")
    rows = {r["node"]: r["triangles"]
            for r in triangle_stats(canonical_edges(ok, "x", "y")).collect()}
    assert rows == {1: 1, 2: 1, edge_max: 1}


def test_triangle_stats_no_cartesian_no_udf(spark):
    edges = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    df = spark.createDataFrame(edges, "x long, y long")
    plan = (
        triangle_stats(canonical_edges(df, "x", "y"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def _py_pagerank(edges: set[tuple[int, int]], iterations=4, d=0.85) -> dict[int, float]:
    """Independent dense power iteration (N-scaled), same float contract."""
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    rank = {n: 1.0 for n in adj}
    for _ in range(iterations):
        incoming: dict[int, list[float]] = {n: [] for n in adj}
        for n, nbrs in adj.items():
            c = rank[n] / len(nbrs)
            for m in nbrs:
                incoming[m].append(c)
        # summation order differs from Spark's partial aggregation — the
        # tolerance below is the operator's documented float contract
        rank = {n: (1.0 - d) + d * sum(cs) for n, cs in incoming.items()}
    return rank


@pytest.mark.parametrize("seed", [_BASE + _OFF + 100 + i for i in range(8)])
def test_pagerank_vs_python(spark, seed):
    from dbt_spark.functions.graph_stats import pagerank

    rng = random.Random(seed)
    raw = _gen_edges(rng)
    if not raw:
        raw = [(0, 1)]
    df = spark.createDataFrame(raw, "a long, b long")
    edges = canonical_edges(df, "a", "b")
    got = {r["node"]: (r["degree"], r["rank"])
           for r in pagerank(edges, iterations=4, damping=0.85).collect()}
    dedup = {(min(u, v), max(u, v)) for u, v in raw if u != v}
    want = _py_pagerank(dedup)
    assert set(got) == set(want), seed
    n = len(want)
    # ranks are a probability mass scaled by N: total is conserved
    assert abs(sum(r for _, r in got.values()) - n) < 1e-9 * max(n, 1)
    for node, w in want.items():
        assert abs(got[node][1] - w) < 1e-9, (seed, node)


def _py_kcore(edges: set[tuple[int, int]], k: int) -> dict[int, int]:
    """Converged k-core by repeated peeling (independent oracle)."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return {n: len(ns) for n, ns in adj.items() if ns}


@pytest.mark.parametrize("seed", [_BASE + _OFF + 300 + i for i in range(8)])
def test_kcore_peel_vs_python(spark, seed):
    from dbt_spark.functions.graph_stats import kcore_peel

    rng = random.Random(seed)
    raw = _gen_edges(rng)
    if not raw:
        raw = [(0, 1)]
    k = rng.choice([2, 3, 4])
    df = spark.createDataFrame(raw, "a long, b long")
    edges = canonical_edges(df, "a", "b")
    # rounds = node count bounds the peel depth on any graph this size
    got = {r["node"]: r["degree"]
           for r in kcore_peel(edges, k=k, rounds=30).collect()}
    dedup = {(min(u, v), max(u, v)) for u, v in raw if u != v}
    want = _py_kcore(dedup, k)
    assert got == want, (seed, k)
