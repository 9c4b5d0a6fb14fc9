"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. Uses
  exact DECIMAL dot products (order-independent, bit-reproducible against the
  DuckDB oracle) and a rank window with unique tie-break.
- ``lsh_topk``: random-hyperplane LSH buckets + in-bucket exact re-rank — the
  scale path: candidate generation shuffles on the bucket key (cost ∝ bucket
  collisions), not |queries| × |corpus|. Hyperplanes are derived from
  xxhash64(plane, dim) — data-independent, deterministic, no driver-side
  randomness to ship.
- At 1000-executor scale the corpus side is hash-partitioned by bucket and the
  (tiny) query side broadcast; an IVF variant = replace the hash bucketer with
  k-means centroid assignment (same join shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from dbt_spark.session import pin

DEC = "decimal(18,9)"


def _dot_exact(a: str, b: str) -> F.Column:
    """Exact decimal dot product of two float arrays (order-independent).

    Products are cast to DECIMAL(30,18) (exact: |elements| ≲ 10, so every
    product/partial-sum fits well inside 12 integer digits), and the fold
    re-casts each partial sum to keep Spark's aggregate() accumulator type
    fixed — decimal addition otherwise widens precision and trips the
    lambda-type check."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, "
        f"  (x, y) -> CAST(CAST(x AS {DEC}) * CAST(y AS {DEC}) AS DECIMAL(30,18))), "
        f"CAST(0 AS DECIMAL(30,18)), "
        f"(acc, v) -> CAST(acc + v AS DECIMAL(30,18)))"
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("__norm2", _dot_exact(vec_col, vec_col))


def _dot_double(a: str, b: str) -> F.Column:
    """Double-precision dot product, fixed left-to-right fold (deterministic
    within the engine). Used for O(Σ|cluster|²) PAIRWISE scoring, where
    Decimal128 multiply/add is ~10× the cost of double and the consumer
    only compares against a threshold computed by this same expression —
    norms (O(N·dim)) stay exact-decimal via _dot_exact."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def within_cell_pairs(av: DataFrame, id_col: str, vec_col: str,
                      buckets: int = 32) -> DataFrame:
    """All (id_a < id_b) pairs inside a cell with their cosine — the b-side
    salted into ``buckets`` hash buckets and the a-side replicated across
    them, so the Σ|cluster|² compute spreads over |cells|×buckets tasks.
    Without the salt a k-cluster corpus caps the pair stage at k tasks —
    and because the shuffled BYTES are tiny, AQE coalesces those further
    (sf0.1 ran the whole 1.5M-pair stage in ONE task); the cost here is
    compute, not shuffle, so parallelism must come from the key.
    ``av`` must carry (cell, id, vec, __norm2)."""
    a = av.select(
        "cell", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("__norm2").alias("na2"),
        F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))).alias("__bkt"))
    b = av.select(
        "cell", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("__norm2").alias("nb2"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets)).alias("__bkt"))
    return (
        a.join(b, ["cell", "__bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            _dot_double("va", "vb")
            / (F.sqrt(F.col("na2").cast("double"))
               * F.sqrt(F.col("nb2").cast("double"))),
        )
    )


def cosine_topk(
    emb: DataFrame,
    query_pred: F.Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for rows matching query_pred.
    Returns (qid, nid, cos_sim, rank). cos is a deterministic double derived
    from exact decimal dot/norms."""
    base = with_norm(emb, vec_col)
    q = base.filter(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col("__norm2").alias("qn2"),
    )
    c = base.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        F.col("__norm2").alias("nn2"),
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("nid"))
    scored = pairs.withColumn(
        "cos_sim",
        _dot_exact("qv", "nv").cast("double")
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("nn2").cast("double"))),
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket): sign-pattern bucket from n pseudo-random hyperplanes.

    plane_p[d] = xxhash64(p, d) mapped to [-1, 1]; sign_p = Σ_d v[d]·plane_p[d].
    Everything is a codegen'd SQL expression over the array — no UDF."""
    signs = []
    for p in range(n_planes):
        proj = F.expr(
            f"aggregate(zip_with({vec_col}, "
            f"  transform(sequence(0, size({vec_col}) - 1), "
            f"            d -> CAST(xxhash64({p}, d) % 1000 AS DOUBLE) / 1000.0), "
            f"  (x, w) -> CAST(x AS DOUBLE) * w), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        signs.append(F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)) * (2**p))
    bucket = signs[0]
    for s in signs[1:]:
        bucket = bucket + s
    return df.select(F.col(id_col).alias("id"), vec_col, bucket.alias("bucket"))


def lsh_topk(
    emb: DataFrame,
    query_pred: F.Column,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates share an LSH bucket, exact re-rank within.
    Approximate (recall < 1) by construction — exercised rows-only."""
    bucketed = hyperplane_buckets(emb, n_planes, id_col, vec_col)
    norms = bucketed.withColumn("__norm2", _dot_exact(vec_col, vec_col))
    q = norms.filter(query_pred).select(
        F.col("id").alias("qid"), F.col(vec_col).alias("qv"),
        F.col("__norm2").alias("qn2"), F.col("bucket").alias("qb"),
    )
    c = norms.select(
        F.col("id").alias("nid"), F.col(vec_col).alias("nv"),
        F.col("__norm2").alias("nn2"), F.col("bucket").alias("nb"),
    )
    pairs = q.join(c, (F.col("qb") == F.col("nb")) & (F.col("qid") != F.col("nid")))
    scored = pairs.withColumn(
        "cos_sim",
        _dot_exact("qv", "nv").cast("double")
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("nn2").cast("double"))),
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bound: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cos ≥ threshold).
    `bound` caps the candidate set for the exact all-pairs variant; the LSH
    bucket join above is the unbounded-scale variant."""
    base = with_norm(emb, vec_col)
    if bound is not None:
        base = base.filter(F.col(id_col) < bound)
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("__norm2").alias("na2")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("__norm2").alias("nb2")
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cos_sim",
            _dot_exact("va", "vb").cast("double")
            / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _init_centroids(base: DataFrame, n_centroids: int) -> DataFrame:
    """Seed centroids: the ``n_centroids`` rows first in xxhash64(id) order.

    ``orderBy(key).limit(n)`` is planned as a distributed
    TakeOrderedAndProject — every partition keeps its local top-n and the
    driver merges n·p candidate rows — so the full table never funnels
    through a single-partition sort (the round-3 scale-killer this replaced).
    Each seed's own vector id serves as its centroid id: cids only need to be
    unique + deterministic, never dense 0..n-1."""
    return base.orderBy(
        F.xxhash64(F.col("id").cast("string")), F.col("id")
    ).limit(n_centroids).select(
        F.col("id").cast("bigint").alias("cid"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
    )


def train_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Seeded k-means (Lloyd) in pure DataFrame ops → (cid, cv, cn2).

    - init: the ``n_centroids`` vectors first in xxhash64(id) order — a
      deterministic pseudo-random spread with no driver-side randomness to
      ship (same trick as the LSH hyperplanes). Selected with
      ``orderBy(...).limit(n)`` — Spark compiles that to a distributed
      TakeOrderedAndProject (per-partition top-k, tiny merge), NOT a
      single-partition global sort; each seed keeps its own vector id as its
      centroid id, so no global row_number window is ever needed.
    - each round: cosine-assign every vector to its nearest centroid
      (broadcast join — the centroid set is tiny at any scale), then recompute
      centroids as the element-wise mean of their members
      (posexplode → per-(cell, dim) avg → array_sort rebuild). All codegen'd
      column expressions; localCheckpoint truncates the per-round lineage.
    - a centroid that loses all members drops out (standard Lloyd behavior);
      IVF probing is unaffected — lists just get coarser.
    """
    base = with_norm(emb, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.col("__norm2").alias("n2"),
    )
    cents = pin(_init_centroids(base, n_centroids), eager=False)
    for _ in range(n_iter):
        assigned = base.crossJoin(F.broadcast(cents)).withColumn(
            "__csim",
            _dot_exact("v", "cv").cast("double")
            / (F.sqrt(F.col("n2").cast("double"))
               * F.sqrt(F.col("cn2").cast("double"))),
        )
        wa = W.partitionBy("id").orderBy(F.col("__csim").desc(), F.col("cid"))
        members = (
            assigned.withColumn("__ar", F.row_number().over(wa))
            .filter(F.col("__ar") == 1)
            .select("cid", "v")
        )
        cents = pin(
            members.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cid",
                F.expr("transform(pm, x -> CAST(x.m AS FLOAT))").alias("cv"),
            )
            .withColumn("cn2", _dot_exact("cv", "cv")),
            eager=False,
        )
    return cents


def ivf_topk(
    emb: DataFrame,
    query_pred: F.Column,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into inverted lists by nearest
    centroid; queries probe only the ``nprobe`` nearest lists, exact re-rank
    within.

    Centroids are k-means-trained by ``train_centroids`` (deterministic
    seeded Lloyd; ``train_iters=0`` falls back to the untrained lowest-id
    stand-in, kept for the recall A/B in tests). At scale the corpus is
    hash-partitioned by ``cell``, the (tiny) centroid set and query side
    broadcast; probe cost is |corpus|·nprobe/n_centroids instead of
    |corpus|.

    Pass a pre-trained ``centroids`` DataFrame (cid, cv, cn2) — e.g. a
    persisted ``train_centroids`` result — to amortize training across many
    query batches; training is the expensive step and the centroid set is a
    reusable model artifact."""
    if centroids is not None:
        pass
    elif train_iters > 0:
        centroids = train_centroids(
            emb, n_centroids, train_iters, id_col, vec_col
        )
    else:
        centroids = (
            emb.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cv"),
                _dot_exact(vec_col, vec_col).alias("cn2"),
            )
        )
    base = with_norm(emb, vec_col)

    def cell_rank(side: DataFrame, prefix: str, keep: int) -> DataFrame:
        """Assign each row its `keep` nearest centroid cells by cosine."""
        scored = side.crossJoin(F.broadcast(centroids)).withColumn(
            "__csim",
            _dot_exact(vec_col, "cv").cast("double")
            / (F.sqrt(F.col("__norm2").cast("double"))
               * F.sqrt(F.col("cn2").cast("double"))),
        )
        if keep == 1:
            # argmax per id as ONE hash aggregate. The broadcast join keeps
            # every |centroids| scored row of an id inside its source
            # partition, so the partial pass collapses to 1 row/id map-side —
            # the exchange ships |corpus| rows, not |corpus|·|centroids|, and
            # the full-corpus sort a row_number window would need disappears.
            # (__csim, -cid) is a unique sort key: max() is deterministic.
            picked = scored.groupBy(id_col).agg(
                F.max(
                    F.struct(
                        F.col("__csim").alias("s"),
                        (-F.col("cid")).alias("tb"),
                        F.col(vec_col).alias("v"),
                        F.col("__norm2").alias("n2"),
                        F.col("cid").alias("c"),
                    )
                ).alias("b")
            )
            return picked.select(
                F.col(id_col).alias(f"{prefix}id"),
                F.col("b.v").alias(f"{prefix}v"),
                F.col("b.n2").alias(f"{prefix}n2"),
                F.col("b.c").alias(f"{prefix}cell"),
            )
        w = W.partitionBy(id_col).orderBy(F.col("__csim").desc(), F.col("cid"))
        return (
            scored.withColumn("__cr", F.row_number().over(w))
            .filter(F.col("__cr") <= keep)
            .select(
                F.col(id_col).alias(f"{prefix}id"),
                F.col(vec_col).alias(f"{prefix}v"),
                F.col("__norm2").alias(f"{prefix}n2"),
                F.col("cid").alias(f"{prefix}cell"),
            )
        )

    corpus = cell_rank(base, "n", keep=1)  # every vector lives in ONE list
    queries = cell_rank(base.filter(query_pred), "q", keep=nprobe)

    # query side is the tiny probe batch: broadcast it so the corpus's
    # inverted lists are probed in place (no corpus shuffle for the join)
    pairs = F.broadcast(queries).join(
        corpus,
        (F.col("qcell") == F.col("ncell")) & (F.col("qid") != F.col("nid")),
    )
    scored = pairs.withColumn(
        "cos_sim",
        _dot_exact("qv", "nv").cast("double")
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("nn2").cast("double"))),
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def semdedup_prune(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.93,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv:2303.09540): assign every embedding to its nearest k-means
    centroid, compute pairwise cosine ONLY within each cluster, and prune
    every item that has a lower-id near-duplicate (cos ≥ threshold) in its
    cluster — the deterministic keep-minimal-id variant of the paper's
    per-cluster dedup (transitive star rule: every duplicate chain keeps
    exactly its minimal-id representative; no rand()).

    Returns (id, cell, keep, dup_of, max_cos): ``dup_of`` is the smallest
    near-duplicate id that caused a prune, NULL for kept items.

    Scale: this is the whole reason SemDeDup clusters first — pairwise
    work is Σ|cluster|² instead of N². Assignment is the argmax-as-
    aggregate over a broadcast centroid set (one keyed shuffle to rejoin
    vectors); the within-cluster pairs come from a bucket-SALTED self-join
    (see within_cell_pairs — |cells|×buckets tasks, never one task per
    cluster) scoring with a double dot (norms stay exact-decimal); at
    100 TB cluster count scales with corpus size so clusters stay bounded
    (the paper's 50k-cluster setting), and a skewed giant cluster falls
    back to the LSH near-dup path."""
    base = with_norm(emb, vec_col)
    scored = base.crossJoin(F.broadcast(centroids)).withColumn(
        "__score",
        _dot_exact(vec_col, "cv").cast("double")
        / (F.sqrt(F.col("__norm2").cast("double"))
           * F.sqrt(F.col("cn2").cast("double"))),
    )
    cells = scored.groupBy(id_col).agg(
        F.max_by("cid", F.struct("__score", F.col("cid").cast("double") * -1))
        .alias("cell"))
    av = base.join(cells, id_col)
    dups = within_cell_pairs(av, id_col, vec_col).filter(
        F.col("cos_sim") >= threshold)
    pruned = dups.groupBy("id_b").agg(
        F.min("id_a").alias("dup_of"),
        F.round(F.max("cos_sim"), 6).alias("max_cos"),
    )
    return (
        av.select(F.col(id_col), "cell")
        .join(pruned.withColumnRenamed("id_b", id_col), id_col, "left")
        .select(
            id_col, "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of", "max_cos",
        )
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI — public). The billion-scale ANN
# memory path: vectors compress to M uint8 codes (64 float32 dims → 8
# bytes, 32×), and search scans CODES with per-query lookup tables instead
# of float vectors (ADC — asymmetric distance computation).
# --------------------------------------------------------------------------

def _l2sq(a: str, b: str) -> F.Column:
    """Squared L2 distance between two float arrays — double fold, fixed
    order, deterministic in-engine."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def pq_train(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace codebooks → (m, cid, cv): split each vector into ``m``
    contiguous subvectors and run seeded Lloyd k-means independently per
    subspace — but as ONE DataFrame pipeline (subspace index exploded into
    the rows, every aggregate keyed by (m, cid)), so training all M
    codebooks costs the same number of Spark stages as training one.

    Init mirrors _init_centroids: the k vectors first in xxhash64(id)
    order seed every subspace (deterministic, no driver randomness).
    Scale: assignment is a broadcast join against M·k codebook rows
    (tiny); the update is a per-(m, cid, dim) average — map-side partials,
    exchange ∝ M·k·dim rows."""
    dim_df = emb.select(F.size(vec_col).alias("d")).limit(1)
    d = dim_df.first()["d"]
    if d % m != 0:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    sub = d // m
    base = pin(emb.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
        F.col(vec_col).alias("v"),
    ).select(
        "id", "m",
        F.expr(f"slice(v, m * {sub} + 1, {sub})").alias("sv"),
    ), eager=False)
    seeds = emb.orderBy(
        F.xxhash64(F.col(id_col).cast("string")), F.col(id_col)
    ).limit(k).select(
        F.col(id_col).cast("bigint").alias("cid"), F.col(vec_col).alias("v"))
    cents = pin(seeds.select(
        "cid", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"), "v",
    ).select(
        "m", "cid", F.expr(f"slice(v, m * {sub} + 1, {sub})").alias("cv"),
    ), eager=False)
    for _ in range(n_iter):
        assigned = base.join(F.broadcast(cents), "m").withColumn(
            "__d2", _l2sq("sv", "cv"))
        picked = assigned.groupBy("id", "m").agg(
            F.min_by("cid", F.struct("__d2", F.col("cid").cast("double")))
            .alias("cid"))
        members = base.join(picked, ["id", "m"])
        cents = pin(
            members.select("m", "cid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "cid", "pos").agg(F.avg("val").alias("mu"))
            .groupBy("m", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .select("m", "cid",
                    F.expr("transform(pm, x -> CAST(x.mu AS FLOAT))")
                    .alias("cv")),
            eager=False,
        )
    return cents


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectors → (id, codes): per subspace, the nearest codebook entry's id
    (argmin L2 as a min_by aggregate — ONE hash aggregate after a broadcast
    join, the same no-window shape as IVF assignment). ``codes`` is the
    M-length array ordered by subspace — the 8-bytes-per-vector
    representation the 100 TB corpus actually stores."""
    m_count = codebooks.agg(F.max("m")).first()[0] + 1
    sub_df = codebooks.select(F.size("cv").alias("s")).limit(1)
    sub = sub_df.first()["s"]
    base = emb.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(m_count - 1))).alias("m"),
        F.col(vec_col).alias("v"),
    ).select("id", "m", F.expr(f"slice(v, m * {sub} + 1, {sub})").alias("sv"))
    assigned = base.join(F.broadcast(codebooks), "m").withColumn(
        "__d2", _l2sq("sv", "cv"))
    picked = assigned.groupBy("id", "m").agg(
        F.min_by("cid", F.struct("__d2", F.col("cid").cast("double")))
        .alias("code"))
    return (picked.groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("m", "code")))
                 .alias("mc"))
            .select("id",
                    F.expr("transform(mc, x -> x.code)").alias("codes")))


def pq_topk(
    emb: DataFrame,
    query_pred: F.Column,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    train_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    rerank: int | None = None,
    codes: DataFrame | None = None,
    subdim: int | None = None,
    m_count: int | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k by L2: queries stay full-precision; each
    query builds an (m × n_codes) lookup table of subspace distances to
    every codebook entry, and a corpus vector's approximate distance is the
    SUM of M table lookups over its codes — the scan touches 8-byte codes,
    never float vectors.

    Plan shape: lookup tables = queries × codebooks broadcast-join (Q·M·K
    rows, broadcast); the scan = codes exploded to (id, m, code) joined to
    the broadcast table on (m, code) and summed per (qid, id) — one keyed
    aggregate, map-side partials; then ADC+R refinement (the production
    shape — Jégou et al. §V): the top ``rerank`` ADC candidates per query
    (a qid-partitioned window over group-by-cardinality rows) join back
    their FULL vectors for exact L2 re-ranking, so only Q·rerank float
    vectors are ever touched. Returns (qid, nid, d2, rank). Codebooks
    amortize via the ``codebooks=`` parameter exactly like IVF's trained
    centroids, and the encoded corpus via ``codes=`` — at scale the codes
    ARE the stored index (8 bytes/vector), written once at ingest and
    reused by every query batch, not re-derived per query."""
    if codebooks is None:
        codebooks = pq_train(emb, m=m, k=n_codes, n_iter=train_iters,
                             id_col=id_col, vec_col=vec_col)
    if codes is None:
        codes = pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col)
    # metadata (subspace width, codebook count) is derivable from the
    # codebooks with two tiny driver jobs — callers that already know them
    # (they chose m and the embedding dim) pass subdim/m_count to keep the
    # per-query plan build job-free
    if subdim is None:
        subdim = codebooks.select(F.size("cv").alias("s")).limit(1).first()["s"]
    if m_count is None:
        m_count = codebooks.agg(F.max("m")).first()[0] + 1
    sub = subdim
    q = emb.filter(query_pred).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    dtable = q.select(
        "qid",
        F.explode(F.sequence(F.lit(0), F.lit(m_count - 1))).alias("m"), "qv",
    ).select(
        "qid", "m", F.expr(f"slice(qv, m * {sub} + 1, {sub})").alias("qsv"),
    ).join(codebooks, "m").select(
        "qid", "m", F.col("cid").alias("code"),
        _l2sq("qsv", "cv").alias("pd2"))
    # ADC scan shape, measured against an in-place alternative (round 8):
    # a broadcast map-of-maps lookup folded over the codes array avoids
    # the M× posexplode and the (qid, nid) re-aggregation, but Spark runs
    # higher-order lambdas INTERPRETED per element while this explode →
    # broadcast-join → hash-aggregate pipeline stays in whole-stage
    # codegen with map-side partials — the codegen'd shape measured ~1.4×
    # faster end-to-end, so it stays. The agg exchange carries one partial
    # per (qid, nid) per task, the same order as the top-R window's input.
    scan = codes.select(
        F.col("id").alias("nid"), F.posexplode("codes").alias("m", "code"))
    scored = (scan.join(F.broadcast(dtable), ["m", "code"])
              .groupBy("qid", "nid")
              .agg(F.sum("pd2").alias("approx_d2"))
              .filter(F.col("qid") != F.col("nid")))
    r = rerank if rerank is not None else max(4 * k, 20)
    wa = W.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("nid"))
    shortlist = (scored.withColumn("__ar", F.row_number().over(wa))
                 .filter(F.col("__ar") <= r)
                 .select("qid", "nid"))
    full = emb.select(F.col(id_col).alias("nid"),
                      F.col(vec_col).alias("nv"))
    exact = (shortlist
             .join(F.broadcast(q), "qid")
             .join(full, "nid")
             .withColumn("d2", _l2sq("qv", "nv")))
    w = W.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid"))
    return (exact.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", F.round("d2", 6).alias("d2"), "rank"))


def ivfpq_index(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVFADC index table ``(nid, codes, cell)``: PQ-encode every
    vector and tag it with its nearest-centroid cell (argmin-as-aggregate
    over a broadcast centroid set — one keyed aggregate, no window). This
    is the ingest-time artifact a 100 TB deployment WRITES (8-byte codes +
    a cell id per vector, ~32× smaller than the vectors); query batches
    then pass it to ``ivfpq_topk(codes=...)`` and never touch vectors
    outside the final shortlist re-rank."""
    cents = centroids.select("cid", "cv")
    base = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    cells = (base.crossJoin(F.broadcast(cents))
             .withColumn("__d2", _l2sq("nv", "cv"))
             .groupBy("nid")
             .agg(F.min_by("cid", F.struct("__d2",
                                           F.col("cid").cast("double")))
                  .alias("cell")))
    return pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col) \
        .withColumnRenamed("id", "nid").join(cells, "nid")


def ivfpq_topk(
    emb: DataFrame,
    query_pred: F.Column,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    rerank: int | None = None,
    codes: DataFrame | None = None,
    subdim: int | None = None,
    m_count: int | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV — the FAISS default at billion scale):
    a coarse IVF quantizer restricts the search to ``nprobe`` inverted
    lists, and WITHIN those lists distances come from PQ codes (ADC lookup
    tables), so the scan touches ~nprobe/n_centroids of the corpus and
    reads 8-byte codes, never vectors; the top-R shortlist re-ranks exact.

    Assignment metric is L2 end-to-end (cells by nearest-centroid L2, ADC
    by subspace L2) so cell routing and code distances agree. All THREE
    index artifacts amortize via parameters: ``centroids`` and
    ``codebooks`` (the trained models) and ``codes`` (the cell-tagged
    code table ``(nid, codes, cell)`` — at scale this IS the stored
    index, built once at ingest; per-query work is then only the probed
    scan + shortlist re-rank).

    Plan: cells = argmin-as-aggregate over a broadcast centroid set (one
    keyed aggregate, no window); query→cell probes = per-query top-nprobe
    over Q×|centroids| broadcast rows; the probed scan = codes ⋈ broadcast
    probe set on cell, exploded to (qid, nid, m, code) and summed — one
    keyed aggregate with map-side partials."""
    if centroids is None:
        centroids = train_centroids(emb, n_centroids, train_iters,
                                    id_col, vec_col)
    if codebooks is None:
        codebooks = pq_train(emb, m=m, k=n_codes, n_iter=train_iters,
                             id_col=id_col, vec_col=vec_col)
    cents = centroids.select("cid", "cv")
    base = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    if codes is None:
        codes = ivfpq_index(emb, centroids, codebooks,
                            id_col=id_col, vec_col=vec_col)
    q = emb.filter(query_pred).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    qscore = (q.crossJoin(F.broadcast(cents))
              .withColumn("__d2", _l2sq("qv", "cv")))
    wq = W.partitionBy("qid").orderBy(F.col("__d2").asc(), F.col("cid"))
    probes = (qscore.withColumn("__r", F.row_number().over(wq))
              .filter(F.col("__r") <= nprobe)
              .select("qid", F.col("cid").alias("cell")))
    if subdim is None:
        subdim = codebooks.select(F.size("cv").alias("s")).limit(1).first()["s"]
    if m_count is None:
        m_count = codebooks.agg(F.max("m")).first()[0] + 1
    sub = subdim
    dtable = q.select(
        "qid",
        F.explode(F.sequence(F.lit(0), F.lit(m_count - 1))).alias("m"), "qv",
    ).select(
        "qid", "m", F.expr(f"slice(qv, m * {sub} + 1, {sub})").alias("qsv"),
    ).join(codebooks, "m").select(
        "qid", "m", F.col("cid").alias("code"),
        _l2sq("qsv", "cv").alias("pd2"))
    # probed scan: codes ⋈ broadcast probe set keeps the IVF cell pruning;
    # scoring uses the same codegen'd explode/join/aggregate shape as
    # pq_topk (see the measurement note there)
    scan = (codes.join(F.broadcast(probes), "cell")
            .select("qid", "nid", F.posexplode("codes").alias("m", "code")))
    scored = (scan.join(F.broadcast(dtable), ["qid", "m", "code"])
              .groupBy("qid", "nid")
              .agg(F.sum("pd2").alias("approx_d2"))
              .filter(F.col("qid") != F.col("nid")))
    r = rerank if rerank is not None else max(4 * k, 20)
    wa = W.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("nid"))
    shortlist = (scored.withColumn("__ar", F.row_number().over(wa))
                 .filter(F.col("__ar") <= r).select("qid", "nid"))
    exact = (shortlist
             .join(F.broadcast(q), "qid")
             .join(base, "nid")
             .withColumn("d2", _l2sq("qv", "nv")))
    w = W.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid"))
    return (exact.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", F.round("d2", 6).alias("d2"), "rank"))
