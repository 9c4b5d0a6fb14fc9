"""Distributed triangle counting (degree-ordered wedge enumeration).

Suri & Vassilvitskii 2011 ("Counting triangles and the curse of the last
reducer", WWW) / Schank & Wagner 2005 node-iterator++: orient every edge
from the LOWER to the HIGHER endpoint in the total order (degree, node).
Every triangle then has exactly one "apex" (its minimum vertex), whose
two out-edges form the wedge — so enumeration is one self-join on the
apex plus one edge-existence join, and the per-vertex wedge work is
bounded by out-degree² where out-degree ≤ O(sqrt(m)) under degree
ordering. That bound is the whole point at scale: a raw id-ordered
orientation lets one celebrity vertex own O(deg²) wedges (the curse of
the last reducer); degree ordering caps every task.

Pipeline role: dedup diagnostics — triangle density / clustering
coefficient over a similarity or co-occurrence graph distinguishes
tight duplicate cliques from chains of borderline matches.

All joins are equi-joins on long keys (AQE-skew-splittable); the only
window-free top-k is orderBy().limit() (TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_spark.functions.keys import HALF, pack, unpack
from dbt_spark.session import pin

__all__ = ["canonical_edges", "pagerank", "triangle_stats"]


# The (degree, node) total order is packed into one sortable long — node
# ids must fit in 32 bits (true for every key column in the test corpus; a
# general deployment would dense-rank ids first). Enforced per NODE (not per
# wedge) by ``_checked_node``: an id outside [0, 2^32) would silently
# corrupt both the (degree, node) order and the packed closing-join key.
def _checked_node(col: F.Column, where: str) -> F.Column:
    """Raise (at execution) on any node id outside [0, 2^32) instead of
    silently mis-packing it; identity for valid ids."""
    return F.when((col >= 0) & (col < F.lit(HALF)), col).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{where}: node id outside [0, 2^32) breaks the "
                      "packed (degree, node) key — dense-rank ids first: "),
                col.cast("string"),
            )
        )
    )


def canonical_edges(df: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct undirected edges as (u, v) with u < v, self-loops dropped."""
    return (
        df.select(
            F.least(F.col(a), F.col(b)).cast("long").alias("u"),
            F.greatest(F.col(a), F.col(b)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node (node, degree, triangles, clustering_coeff) over canonical
    (u < v) distinct edges. Exact: every triangle enumerated exactly once
    at its (degree, node)-minimum apex."""
    # the plan references edges/deg/oriented several times each (deg twice
    # in keyed + once in the final join; oriented three times as e1/e2/
    # closing) — without checkpoints every reference recomputes the whole
    # upstream edge build (distinct over the basket self-join), ~9 full
    # rebuilds per run. localCheckpoint makes each level compute ONCE.
    edges = pin(edges, eager=False)
    deg = pin(
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        # every edge endpoint flows through this node-sized frame, so the
        # 32-bit-id guard here covers the whole key-packing pipeline at
        # one comparison per NODE (never per wedge)
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(_checked_node(F.col("node"), "triangle_stats").alias("node"),
                "degree"),
        eager=False,
    )
    keyed = (
        edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("degree", "du")
        .join(deg.withColumnRenamed("node", "v"), "v")
        .withColumnRenamed("degree", "dv")
        .select(
            "u", "v",
            pack(F.col("du"), F.col("u")).alias("ku"),
            pack(F.col("dv"), F.col("v")).alias("kv"),
        )
    )
    oriented = pin(keyed.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.least("ku", "kv").alias("klo"),
        F.greatest("ku", "kv").alias("khi"),
    ), eager=False)
    e1 = oriented.select(
        F.col("lo").alias("a"), F.col("klo").alias("ka"),
        F.col("khi").alias("kb"),
    )
    e2 = oriented.select(
        F.col("klo").alias("ka2"), F.col("khi").alias("kc"),
    )
    # wedges at the apex: two out-edges (a->b, a->c) with kb < kc. The
    # wedge set is the volume knee (Σ out-degree² rows feed the closing
    # join), so each wedge row carries only (a, kb, kc) — the b/c node ids
    # are the packed keys' low 32 bits, recovered AFTER the join instead
    # of shuffled alongside them (5 longs -> 3 per wedge). An adjacency-
    # array edge-iterator variant (array_intersect of out-neighbor lists)
    # measured 1.5x SLOWER: joining node arrays onto edges replicates the
    # same Σ out-degree² bytes and adds a per-edge hash-set build.
    # the (kb, kc) closing key packs into ONE long of node ids: degree is
    # a function of the node, so k1 == k2 iff their low-32 node ids match
    # — wedge rows shrink 3 longs -> 2 and the closing join hashes a
    # single key (shiftleft/OR is overflow-free under ANSI, bijective on
    # 32-bit pairs)
    def _bc(lo_key, hi_key):
        return pack(unpack(F.col(lo_key))[1], unpack(F.col(hi_key))[1])

    wedges = e1.join(
        e2, (F.col("ka") == F.col("ka2")) & (F.col("kb") < F.col("kc"))
    ).select("a", _bc("kb", "kc").alias("bc"))
    closing = oriented.select(_bc("klo", "khi").alias("bc"))
    b, c = unpack(F.col("bc"))
    tris = wedges.join(closing, ["bc"]).select("a", b.alias("b"), c.alias("c"))
    corner = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(corner, "node", "left")
        .select(
            "node", "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.coalesce("triangles", F.lit(0)) * 2.0
                    / (F.col("degree") * (F.col("degree") - F.lit(1))),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


def pagerank(edges: DataFrame, iterations: int = 4, damping: float = 0.85) -> DataFrame:
    """Power-iteration PageRank over canonical (u < v) undirected edges,
    N-scaled (ranks average 1.0, so the teleport term is a constant and
    no global count broadcasts into the update).

    Classic Page et al. 1999 / Pregel-style iteration as pure DataFrame
    rounds: each iteration is one equi-join of (edge, deg) with the rank
    vector on the source key plus one sum-shuffle on the destination key
    — map-side partial aggregation makes per-round traffic O(edges)
    contributions collapsing to O(nodes) partials. Fixed iteration count
    keeps the plan a linear chain (no driver-side convergence collect);
    callers wanting convergence stop on max |Δrank| with one 1-row
    aggregate per round. Undirected graphs have no dangling nodes, so no
    lost-mass correction term is needed.

    Floating-point contract: the update is the single IEEE expression
    ``(1 - damping) + damping * SUM(rank / deg)`` with BOTH constants as
    source literals — sum order varies across partitions/engines, so
    consumers round final ranks (round-6 keeps ~1e-13 relative
    cross-engine drift far from the grid; see curation.pagerank oracle).

    Returns (node, degree, rank) for every node of the edge set.
    """
    # checkpoint the per-iteration loop invariants: without them every
    # iteration's plan re-derives directed/deg/ed from scratch — at 4
    # iterations that is 4 full rebuilds of the edge list (itself a
    # distinct over a self-join at the call sites)
    directed = pin(edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ), eager=False)
    deg = pin(directed.groupBy("u").agg(
        F.count(F.lit(1)).alias("deg")), eager=False)
    ed = pin(directed.join(deg, "u"), eager=False)
    ranks = deg.select(F.col("u").alias("node"), F.lit(1.0).alias("rank"))
    base = F.lit(1.0 - damping)
    for _ in range(iterations):
        contribs = ed.join(ranks.withColumnRenamed("node", "u"), "u").select(
            F.col("v").alias("node"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        ranks = contribs.groupBy("node").agg(
            (base + F.lit(damping) * F.sum("c")).alias("rank")
        )
    return deg.select(F.col("u").alias("node"), F.col("deg").alias("degree")).join(
        ranks, "node"
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983 cores; the distributed
    peel is the Batagelj-Zaversnik iteration expressed as joins): each
    round drops nodes of degree < k and the edges they carry. A fixed
    round count keeps the plan a deterministic linear chain (the same
    move as pagerank's fixed iterations): rounds >= the peel depth gives
    the TRUE k-core — callers verify convergence by comparing the last
    two rounds or over-provisioning rounds.

    Per round: one degree aggregate (map-side partials) + two
    semi-joins. Work shrinks monotonically — every round's edge set is a
    subset of the last. Each round's edge set is localCheckpointed: the
    round references it three times (twice for degrees, once filtered),
    so an unpersisted linear chain would recompute the upstream 3^rounds
    times. Returns (node, degree) of the surviving core, degree measured
    within the core."""
    e = pin(edges, eager=False)
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        e = pin(
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi"),
            eager=False,
        )
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
