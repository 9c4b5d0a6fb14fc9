"""Distributed suffix-array construction (prefix doubling) + repeat stats.

The scale path for Lee 2021 "Deduplicating Training Data Makes Language
Models Better" (arXiv:2107.06499): ExactSubstr dedup is defined over a
corpus suffix array. A single-node suffix array caps at RAM; the
distributed construction here is prefix doubling (Manber & Myers 1990;
distributed-memory formulation per Flick & Aluru, SC'15 "Parallel
distributed memory construction of suffix and LCP arrays"), with the two
standard engineering moves:

- **head-index ranks** instead of dense ranks: a suffix's rank is the
  1-based sorted position of the FIRST member of its tie block. Order and
  equality semantics are identical to dense ranks, but a refined block's
  new ranks stay inside the parent block's index span — so each doubling
  round re-ranks ONLY still-tied suffixes with two rank-partitioned
  windows (never unpartitioned, never a global re-sort), and the final
  suffix-array index is pure arithmetic (rank + position-in-block), no
  extra shuffle;
- **granule seeding**: the first table ranks the ``GRANULE``-char prefix
  directly (one range-partitioned sort of fixed-width keys), replacing
  log2(GRANULE) doubling rounds; sub-granule LCP resolution is recovered
  at the end by one direct compare of ≤(GRANULE-1)-char fragments fetched
  via a doc-keyed join. The wider the granule, the fewer full-table
  doubling rounds AND lifting joins — the seed shuffle pays GRANULE bytes
  per row once, each avoided round pays a full-table join plus windows.

Per-round traffic after seeding is longs-only (16-byte rows): each round
is one equi-join on (doc_id, pos+k) against the full table plus two
windows over the tied subset, which shrinks geometrically on real
corpora. LCP of suffix-array-adjacent suffixes uses classic binary
lifting over the SAME rank tables (equal ranks at shifted positions
extend the common prefix) — joins on computed (doc, pos+lcp) keys.

At 100 TB: rounds = log2(max repeat length / granule); bounded-depth
ranking (256 here) is exactly the ExactSubstr use case (~50-token
repeats), and the same loop un-capped builds the full suffix array in
log2(n) rounds.

**Adaptive skew handling.** Two physical plans share one logical
semantics, chosen per corpus by a cheap sampled probe of the seed
granule key (tie blocks only SHRINK across doubling rounds — refinement
splits blocks, never merges — so the seed-key decision covers every
round):

- *window path* (default, real corpora): head ranks / refinement / SA
  index via rank-partitioned windows — fewest shuffles, measured ~1.6×
  faster than the aggregate path at sf0.1;
- *skew-safe path* (giant tie blocks, e.g. a single-character corpus):
  per-KEY quantities from hash aggregates (map-side partials) +
  AQE-skew-splittable join-backs with summary windows over
  one-row-per-key tables, and the one unavoidable per-row window (the
  final within-block SA index) salted over ``_IDX_SALT`` buckets — no
  window task ever serializes a corpus-sized block on one core.

``skew_safe=None`` (auto) probes a 1% sample: if the largest seed block
exceeds ``_SKEW_SHARE`` of sampled positions (exact fallback below 5000
sampled rows), the skew-safe plan is used. Explicit True/False pins the
path (fuzz tests exercise both against the same oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_spark.functions.keys import HALF, pack, unpack
from dbt_spark.session import pin

#: seed prefix length — the granule of the rank tables. 64 (vs the
#: classic 16) trades a wider key in the ONE seed range-sort for two
#: fewer doubling rounds and four fewer lifting joins to reach a
#: 256-depth table: every doubling round is a full-table equi-join plus
#: windows over the tied subset, so at any corpus size the extra 48
#: bytes/row in the seed shuffle is far cheaper than two more rounds of
#: full-table traffic (r13 bench: suffix_repeat_stats 30.9 s -> see
#: OPTIMIZATION_r13.md).
GRANULE = 64

#: sentinel LCP for pairs already decided by equal final ranks
_DECIDED = 1 << 40

#: salt buckets for the within-block SA-index window: bounds the widest
#: single window task at block_size/_IDX_SALT (adversarial corpora)
_IDX_SALT = 32

#: max tie-block share of the seed key before the skew-safe plan kicks in
#: (2% of the corpus in one block ≪ one window task's comfort zone, but
#: far above sampling noise at the 1% probe fraction)
_SKEW_SHARE = 0.02

__all__ = ["global_head_ranks", "suffix_rank_tables", "suffix_repeat_lengths"]


def _spread_docs(docs: DataFrame) -> DataFrame:
    """Round-robin the doc slice across cores and pin it (lazy local
    checkpoint). Small corpora arrive as a single parquet row group, so
    the position explode — a ~300x row multiplier — would otherwise run
    entirely inside ONE scan task and serialize every downstream pass
    (probe, range-sample, shuffle map) onto one core; the checkpoint also
    stops the explode's upstream from re-running once per consuming pass.
    At real scale the scan already has many splits and this repartition
    is a cheap doc-row shuffle that still buys the re-read pinning."""
    if getattr(docs, "_sfx_spread", False):  # already prepared by caller
        return docs
    spark = docs.sparkSession
    out = pin(docs.repartition(
        spark.sparkContext.defaultParallelism
    ), eager=False)
    out._sfx_spread = True
    return out


def _probe_skew(positions: DataFrame, key_col: F.Column) -> bool:
    """Estimated max tie-block share of the seed granule key (1% sample;
    exact fallback on tiny inputs). Sound for the whole pipeline because
    tie blocks only shrink across doubling rounds."""
    def _shares(df: DataFrame):
        row = (
            df.groupBy("__pk").count()
            .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
            .collect()[0]
        )
        return row["mx"] or 0, row["tot"] or 0

    keyed = positions.select(key_col.alias("__pk"))
    mx, tot = _shares(keyed.sample(fraction=0.01, seed=7))
    if tot < 5000:
        mx, tot = _shares(keyed)
    return bool(tot) and mx / tot > _SKEW_SHARE


def global_head_ranks(
    df: DataFrame, key: str, tiebreak: list[str], out: str = "rank",
    skew_safe: bool = False,
) -> DataFrame:
    """Global 1-based head-index rank of ``key``: the sorted position of
    the first row sharing the key (dense in ORDER, stable under later
    within-block refinement). Range-repartitions on the key alone (equal
    keys land in one partition), then two per-partition windows plus a
    bounded one-row-per-partition collect for the offsets. Sampling-based
    range boundaries affect the split, never the rank values.

    ``__sz`` contract: a SINGLETON MARKER, not an exact block size — 1
    means the row's key is unique, >1 means it is tied. The fast path
    emits the literal 2 for every tied row; the skew-safe path emits the
    exact block count. Consumers may only test ``__sz == 1`` / ``> 1``
    (everything in this module does); the two physical paths agree on
    exactly that predicate."""
    spark = df.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = pin(
        df.repartitionByRange(npart, F.col(key))
        .withColumn("__pid", F.spark_partition_id()),
        eager=False,
    )
    sizes = sorted(
        part.groupBy("__pid").count().collect(), key=lambda r: r["__pid"]
    )
    offsets, acc = {}, 0
    for r in sizes:
        offsets[r["__pid"]] = acc
        acc += r["count"]
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    ) if offsets else F.create_map()
    if not skew_safe:
        # Fast path: ONE (__pid)-partitioned window sort serves every
        # quantity — head rank = running max of tie-block start positions
        # (growing frame, O(n) incremental), singleton detection from
        # lag/lead of the key (O(1) offsets). The previous formulation
        # used a second window partitioned by (__pid, key), which cost a
        # second full exchange + sort of the corpus-sized position table.
        # (NOT a [1 FOLLOWING, UNBOUNDED FOLLOWING] min — Spark evaluates
        # moving-lower-bound following frames by rescanning the frame per
        # row, O(partition²).) Safe because the probe ruled out
        # corpus-sized blocks.
        order = [F.col(c) for c in tiebreak]
        w_ord = Window.partitionBy("__pid").orderBy(F.col(key), *order)
        w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
        lagged = F.lag(F.col(key)).over(w_ord)
        led = F.lead(F.col(key)).over(w_ord)
        stepped = part.withColumn(
            "__rn", F.row_number().over(w_ord)
        ).withColumn(
            "__st",
            F.when(lagged.isNull() | (lagged != F.col(key)), F.col("__rn")),
        ).withColumn(
            "__1", F.when(led.isNull() | (led != F.col(key)), F.lit(1)),
        )
        return (
            stepped
            .withColumn("__head", F.max("__st").over(w_run))
            .withColumn(
                out,
                (off_map[F.col("__pid")] + F.col("__head")).cast("long"),
            )
            .withColumn(
                # singleton marker, not an exact count: every consumer
                # tests __sz == 1 / > 1 only (a block is a singleton iff
                # its row both starts a block and precedes the next start
                # or the partition end)
                "__sz",
                F.when(
                    F.col("__st").isNotNull() & F.col("__1").isNotNull(),
                    F.lit(1),
                ).otherwise(F.lit(2)).cast("long"),
            )
            .drop("__pid", "__rn", "__st", "__1", "__head", key)
        )
    # Skew-safe path. Head rank = partition offset + (# rows with a
    # strictly smaller key in the partition) + 1, and block size is the
    # key's count — BOTH are per-KEY quantities, so they come from an
    # aggregate over distinct keys (one row per key) joined back, never a
    # window over the raw rows. A window partitioned by (__pid) would
    # serialize an adversarial giant tie block (single-character corpus)
    # through one task; the aggregate shuffles with map-side partials
    # across every core, the summary window runs over one-row-per-KEY, and
    # the join-back is AQE-skew-splittable (windows are not). ``tiebreak``
    # never affects head ranks (in-block order cancels out of first-member
    # position); kept for API parity.
    blk = part.groupBy("__pid", key).agg(F.count(F.lit(1)).alias("__sz"))
    w_keys = (
        Window.partitionBy("__pid").orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blk = blk.withColumn(
        "__before", F.coalesce(F.sum("__sz").over(w_keys), F.lit(0))
    )
    return (
        part.join(blk, ["__pid", key])
        .withColumn(
            out,
            (off_map[F.col("__pid")] + F.col("__before") + F.lit(1))
            .cast("long"),
        )
        .drop("__pid", "__before", key)
    )


def _double(ranks: DataFrame, k: int, skew_safe: bool = False) -> DataFrame:
    """One prefix-doubling round, depth k -> 2k: refine every tie block by
    the partner rank at pos+k (absent partner = -1, so a shorter suffix
    sorts before its extensions, matching SQL string order). ``__sz`` (the
    block size) is carried between rounds: rows that became unique never
    travel through another window.

    The partner lookup is ``lead(rank, k)`` over a per-document window:
    positions are dense (1..doc_len, one row each), so the row k ahead in
    pos order IS position pos+k — one doc-keyed exchange replaces the
    (doc, pos+k) equi-join's two exchanges plus sort-merge, and no
    document is large enough to serialize a window task (doc-bounded).

    Any extra ``r<depth>`` columns on the input (the shallower tables'
    ranks, stamped by ``suffix_rank_tables``) ride along unchanged: they
    let the LCP lifting compare shallower ranks at offset 0 as plain
    columns instead of re-joining the shallower tables (suffix_repeat_
    lengths)."""
    carry = [c for c in ranks.columns
             if c not in ("doc_id", "pos", "doc_len", "rank", "__sz")]
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    paired_all = ranks.withColumn(
        "rank2",
        F.coalesce(F.lead("rank", k).over(w_doc), F.lit(-1).cast("long")),
    )
    single = paired_all.filter(F.col("__sz") == 1).drop("rank2")
    paired = paired_all.filter(F.col("__sz") > 1).select(
        "doc_id", "pos", "doc_len", "rank", "rank2", *carry,
    )
    if not skew_safe:
        # fast path: two windows over the tied subset (shrinks
        # geometrically on real corpora; probe ruled out giant blocks)
        w_blk = Window.partitionBy("rank").orderBy("rank2", "doc_id", "pos")
        w_sub = Window.partitionBy("rank", "rank2")
        refined = (
            paired.withColumn("__rn", F.row_number().over(w_blk))
            .withColumn("__head", F.min("__rn").over(w_sub))
            .withColumn("__nsz", F.count(F.lit(1)).over(w_sub))
            .select(
                "doc_id", "pos", "doc_len",
                (F.col("rank") + F.col("__head") - F.lit(1)).alias("rank"),
                F.col("__nsz").alias("__sz"),
                *carry,
            )
        )
        return single.unionByName(refined)
    # Skew-safe path. Refined head rank = parent rank + (# rows in the
    # parent block with a smaller partner rank). Aggregate per
    # (rank, rank2) sub-block + join back — one row per sub-block through
    # the summary window, so an adversarial giant tie block (all-"a"
    # corpus: one block holding nearly every position, O(1) distinct
    # partners) never serializes a window task; the raw rows only take a
    # hash-aggregate and an AQE-skew-splittable join.
    sub = paired.groupBy("rank", "rank2").agg(F.count(F.lit(1)).alias("__nsz"))
    w_sub = (
        Window.partitionBy("rank").orderBy("rank2")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sub = sub.withColumn(
        "__before", F.coalesce(F.sum("__nsz").over(w_sub), F.lit(0))
    )
    refined = paired.join(sub, ["rank", "rank2"]).select(
        "doc_id", "pos", "doc_len",
        (F.col("rank") + F.col("__before")).alias("rank"),
        F.col("__nsz").alias("__sz"),
        *carry,
    )
    return single.unionByName(refined)


def suffix_rank_tables(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_depth: int = 256,
    skew_safe: bool | None = None,
) -> list[tuple[int, DataFrame]]:
    """Prefix-doubling rank tables over every suffix of every document:
    [(depth, df(doc_id, pos, doc_len, rank))] at depths GRANULE, 2·GRANULE,
    …, max_depth. rank orders suffixes by their first ``depth`` characters
    (truncated at the document end; shorter prefixes sort first).
    ``skew_safe=None`` probes the seed-key block distribution and picks
    the physical plan (module docstring)."""
    docs = _spread_docs(docs)
    positions = docs.filter(F.length(text_col) >= 1).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.sequence(F.lit(1), F.length(text_col))).alias("pos"),
        F.length(text_col).alias("doc_len"),
        F.col(text_col).alias("__text"),
    )
    key_expr = F.expr(f"substring(__text, pos, {GRANULE})")
    if skew_safe is None:
        skew_safe = _probe_skew(positions, key_expr)
    # column pruning drops __text before the seed's range shuffle: only
    # (doc_id, pos, doc_len, GRANULE-char key) rows ever travel; the
    # checkpoint pins the exploded keys so repartitionByRange's boundary
    # SAMPLING pass and the real shuffle pass don't each re-run the
    # explode + substring (measured -10% on the whole pipeline)
    seeded = pin(global_head_ranks(
        pin(positions.withColumn("__k", key_expr).drop("__text"), eager=False),
        key="__k",
        tiebreak=["doc_id", "pos"],
        skew_safe=skew_safe,
    ), eager=False)
    tables: list[tuple[int, DataFrame]] = [(GRANULE, seeded)]
    depth = GRANULE
    while depth < max_depth:
        # stamp this depth's rank as a carried r<depth> column BEFORE the
        # next round refines `rank`: the final table then holds every
        # shallower depth's rank per position, and LCP lifting at offset 0
        # is a column comparison instead of a join against this table
        nxt = pin(_double(
            tables[-1][1].withColumn(f"r{depth}", F.col("rank")),
            depth, skew_safe,
        ), eager=False)
        depth *= 2
        tables.append((depth, nxt))
    return tables


def _frag_lcp(a, b, width: int):
    """Exact LCP (codegen'd binary search, no UDF) of two ≤width-char
    fragments. Both-exhausted windows compare equal and overshoot — the
    caller's remaining-length clamp restores exactness (overshoot only
    happens when the suffixes are identical to their ends).

    CALLERS MUST PASS PLAIN (named-column) fragments: the nested-WHEN tree
    re-substitutes the accumulated lcp ~3x per level, so a computed
    expression argument (e.g. ``substr(text, pos+lcp, w)``) is re-evaluated
    at every one of the ~3^levels leaves — hoisting the fragments into
    named columns first measured 3.6x faster end-to-end at width 63 than
    passing the substr expressions inline (r13 bench). A linear
    ``transform``+``array_position`` formulation avoids the tree but runs
    on the interpreted higher-order-function path and measured slower than
    this codegen'd form at both width 31 and 63."""
    lcp = F.lit(0)
    step = 1
    while step * 2 <= width:
        step *= 2
    while step >= 1:
        lcp = F.when(
            a.substr(lcp + F.lit(1), F.lit(step))
            == b.substr(lcp + F.lit(1), F.lit(step)),
            lcp + F.lit(step),
        ).otherwise(lcp)
        step //= 2
    return lcp


def suffix_repeat_lengths(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_depth: int = 256,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Per suffix position: the longest prefix (≤ max_depth chars) it
    shares with ANY other suffix in the corpus ("repeat length").

    Blocks of suffixes sharing an ℓ-prefix are contiguous in suffix-array
    order, so each position's best partner is an SA-adjacent neighbor:
    rep(p) = max(LCP(prev, p), LCP(p, next)). Returns (doc_id, pos, rep).
    """
    docs = _spread_docs(docs)
    if skew_safe is None:
        probe_positions = docs.filter(F.length(text_col) >= 1).select(
            F.col(text_col).alias("__text"),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col))).alias("pos"),
        )
        skew_safe = _probe_skew(
            probe_positions, F.expr(f"substring(__text, pos, {GRANULE})"))
    tables = suffix_rank_tables(docs, id_col, text_col, max_depth, skew_safe)
    final = tables[-1][1]
    # suffix-array index is arithmetic on head ranks: a unique row's index
    # IS its rank; only still-tied rows (equal max_depth-prefixes) need a
    # within-block row_number — a window over that small subset alone
    uniq = final.filter(F.col("__sz") == 1).withColumn("idx", F.col("rank"))
    if not skew_safe:
        tied = final.filter(F.col("__sz") > 1).withColumn(
            "idx",
            F.col("rank")
            + F.row_number().over(
                Window.partitionBy("rank").orderBy("doc_id", "pos")
            )
            - F.lit(1),
        )
    else:
        # Within-block index assignment is SALTED: members of a final tie
        # block share their full (truncated) max_depth-prefix, so ANY
        # in-block permutation yields identical rep values (in-block
        # adjacent pairs are rank-equal -> decided by the remaining-length
        # clamp; the member adjacent to a neighboring block sees an LCP
        # that depends only on the block's common prefix). That freedom
        # lets the one per-row window run over (rank, salt) instead of
        # (rank): an adversarial single-character corpus (one block ~ the
        # whole corpus) fans out over _IDX_SALT tasks with per-(rank,salt)
        # offsets from a one-row-per-bucket summary window.
        tied = final.filter(F.col("__sz") > 1).withColumn(
            "__salt", F.pmod(F.xxhash64("doc_id", "pos"), F.lit(_IDX_SALT))
        )
        bucket = tied.groupBy("rank", "__salt").agg(
            F.count(F.lit(1)).alias("__bn"))
        w_bkt = (
            Window.partitionBy("rank").orderBy("__salt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        bucket = bucket.withColumn(
            "__boff", F.coalesce(F.sum("__bn").over(w_bkt), F.lit(0))
        ).drop("__bn")
        tied = (
            tied.join(bucket, ["rank", "__salt"])
            .withColumn(
                "idx",
                F.col("rank") + F.col("__boff")
                + F.row_number().over(
                    Window.partitionBy("rank", "__salt")
                    .orderBy("doc_id", "pos")
                )
                - F.lit(1),
            )
            .drop("__salt", "__boff")
        )
    sa = uniq.unionByName(tied)
    # (doc, pos) PACKED into one long per side — pairs rows shrink from
    # seven longs (d1,p1,l1,d2,p2,l2,lcp) to four (k1,k2,cap,lcp), i.e.
    # ~45% fewer bytes through every lifting join's shuffle and every
    # per-round checkpoint (§2.3), and each lifting lookup becomes a
    # SINGLE-long equi-join: pack(d, p + lcp) = k + lcp because lcp
    # ≤ max_depth stays inside the pos bits. The remaining-length clamp is
    # a per-pair CONSTANT, so it is folded into `cap` here instead of
    # carrying both doc lengths through the loop. Guarded: ids/positions
    # outside 32 bits would corrupt the packing (same contract as the
    # graph key pack).
    def _checked_pack(d: F.Column, p: F.Column) -> F.Column:
        ok = (d >= 0) & (d < F.lit(HALF)) & (p > 0) & (p < F.lit(HALF) - max_depth)
        return F.when(ok, pack(d, p)).otherwise(
            F.raise_error(F.concat(
                F.lit("suffix pack: doc_id/pos outside [0, 2^32): "),
                d.cast("string"), F.lit("/"), p.cast("string"))))

    depths = [d for d, _ in tables[:-1]]  # shallower depths, ascending
    left = sa.select(
        F.col("idx").alias("i"),
        _checked_pack(F.col("doc_id"), F.col("pos")).alias("k1"),
        (F.col("doc_len") - F.col("pos") + 1).alias("rem1"),
        F.col("rank").alias("r1"),
        *[F.col(f"r{d}").alias(f"q1_{d}") for d in depths],
    )
    right = sa.select(
        (F.col("idx") - F.lit(1)).alias("i"),
        pack(F.col("doc_id"), F.col("pos")).alias("k2"),
        (F.col("doc_len") - F.col("pos") + 1).alias("rem2"),
        F.col("rank").alias("r2"),
        *[F.col(f"r{d}").alias(f"q2_{d}") for d in depths],
    )
    # Binary-lifting round 1 (the DEEPEST shallower table) folds into this
    # projection: every pair starts at offset 0, and the final table
    # carries each position's shallower ranks as r<depth> COLUMNS
    # (suffix_rank_tables), so "rank_d(pos+0) equal?" is a column compare —
    # no join, no extra exchange. Equal final ranks ⇒ identical (truncated)
    # max_depth-prefixes ⇒ LCP = cap (the folded remaining-length clamp).
    top = depths[-1] if depths else None
    lcp0 = F.when(F.col("r1") == F.col("r2"), F.lit(_DECIDED))
    if top is not None:
        lcp0 = lcp0.when(
            F.col(f"q1_{top}") == F.col(f"q2_{top}"), F.lit(top).cast("long"))
    carry_q = [(f"q1_{d}", f"q2_{d}") for d in depths[:-1]]
    pairs = pin(left.join(right, "i", "inner").select(
        "k1", "k2",
        F.least("rem1", "rem2", F.lit(max_depth).cast("long")).alias("cap"),
        lcp0.otherwise(F.lit(0).cast("long")).alias("lcp"),
        *[c for pair in carry_q for c in pair],
    ), eager=False)
    # Remaining rounds, shallowest-table ranks consumed deepest-first. Per
    # round, three branches instead of a full-table join pair:
    #   - DECIDED pairs pass through untouched;
    #   - offset-0 pairs (lcp == 0, the vast majority on natural text:
    #     their first `depth` chars already differ or match per the carried
    #     column) compare r<depth> columns — join-free;
    #   - extended pairs (0 < lcp, only those whose deeper prefix matched)
    #     join the depth table at pack(doc, pos + lcp) = k + lcp — the only
    #     corpus-table join left in the lifting, over a small subset.
    cols = ["k1", "k2", "cap", "lcp"]
    for ridx, (depth, table) in enumerate(reversed(tables[:-1])):
        if ridx == 0:
            continue  # folded into the adjacency projection above
        remaining = [(f"q1_{d}", f"q2_{d}") for d in depths[:-1 - ridx]]
        keep = [c for pair in remaining for c in pair]
        ra = table.select(
            pack(F.col("doc_id"), F.col("pos")).alias("ka"),
            F.col("rank").alias("a_rank"),
        )
        rb = table.select(
            pack(F.col("doc_id"), F.col("pos")).alias("kb"),
            F.col("rank").alias("b_rank"),
        )
        dec = pairs.filter(F.col("lcp") == F.lit(_DECIDED)).select(
            *cols, *keep)
        zero = pairs.filter(F.col("lcp") == 0).select(
            "k1", "k2", "cap",
            F.when(
                F.col(f"q1_{depth}") == F.col(f"q2_{depth}"),
                F.lit(depth).cast("long"),
            ).otherwise(F.lit(0).cast("long")).alias("lcp"),
            *keep,
        )
        ext = (
            pairs.filter(
                (F.col("lcp") > 0) & (F.col("lcp") < F.lit(_DECIDED)))
            .join(ra, F.col("ka") == F.col("k1") + F.col("lcp"), "left")
            .join(rb, F.col("kb") == F.col("k2") + F.col("lcp"), "left")
            .withColumn(
                "lcp",
                F.when(
                    F.coalesce(F.col("a_rank"), F.lit(-1).cast("long"))
                    == F.coalesce(F.col("b_rank"), F.lit(-1).cast("long")),
                    F.col("lcp") + F.lit(depth).cast("long"),
                ).otherwise(F.col("lcp")),
            )
            .select(*cols, *keep)
        )
        pairs = pin(dec.unionByName(zero).unionByName(ext), eager=False)
    # … then sub-granule refinement: direct compare of ≤(GRANULE-1)-char
    # fragments fetched by doc-keyed joins (broadcast-sized dimension at
    # test scale; plain hash join at corpus scale); decided pairs skip the
    # text joins entirely
    t1 = docs.select(F.col(id_col).alias("d1"), F.col(text_col).alias("__t1"))
    t2 = docs.select(F.col(id_col).alias("d2"), F.col(text_col).alias("__t2"))
    frag_w = GRANULE - 1
    dec = pairs.filter(F.col("lcp") == F.lit(_DECIDED)).select(
        "k1", "k2", F.col("cap").alias("lcp"))
    d1, p1 = unpack(F.col("k1"))
    d2, p2 = unpack(F.col("k2"))
    und = (
        pairs.filter(F.col("lcp") < F.lit(_DECIDED))
        .withColumn("d1", d1)
        .withColumn("p1", p1)
        .withColumn("d2", d2)
        .withColumn("p2", p2)
        .join(t1, "d1").join(t2, "d2")
        # fragments land in NAMED columns first: _frag_lcp's nested-WHEN
        # tree references its inputs at ~3^levels leaves, so an inline
        # substr expression would be re-evaluated at every leaf
        .withColumn("__f1", F.col("__t1").substr(
            (F.col("p1") + F.col("lcp")).cast("int"), F.lit(frag_w)))
        .withColumn("__f2", F.col("__t2").substr(
            (F.col("p2") + F.col("lcp")).cast("int"), F.lit(frag_w)))
        .select(
            "k1", "k2",
            # clamp folded in: overshoot past either suffix's end means the
            # suffixes are identical to their ends — true LCP = cap
            F.least(
                F.col("lcp")
                + _frag_lcp(F.col("__f1"), F.col("__f2"), frag_w)
                .cast("long"),
                F.col("cap"),
            ).alias("lcp"),
        )
    )
    pairs = dec.unionByName(und)
    both = pairs.select(F.col("k1").alias("k"), "lcp").unionAll(
        pairs.select(F.col("k2").alias("k"), "lcp"))
    doc_id, pos = unpack(F.col("k"))
    return (
        both.groupBy("k").agg(F.max("lcp").alias("rep"))
        .select(doc_id.alias("doc_id"), pos.alias("pos"), "rep")
    )
