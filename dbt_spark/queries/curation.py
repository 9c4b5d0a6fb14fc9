"""Round-4 corpus-curation analytics: ranking, sampling, calibration and
robust-stats operators over documents/events.

Every operator is a pure DataFrame plan (no UDFs) engineered so the same
semantics are exactly expressible in ANSI SQL for the DuckDB oracle:
integer/decimal math wherever cross-engine bit-equality matters, doubles only
through IEEE-deterministic single expressions (+ - * / sqrt are correctly
rounded; only transcendentals like ln can differ by 1 ulp, noted inline).

Reference parity: the reference engine's test corpus exercises ranking /
sampling / outlier queries through its SQL adapter surface (e.g.
core/dbt/tests/adapter materializations run arbitrary SELECTs); these are the
Spark-first large-corpus analogs with the curation semantics a training-data
pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_spark.functions import dedup as D
from dbt_spark.functions.text import STOPWORDS
from dbt_spark.session import load_tables, pin, spread

_TOKS_L = "string_split_regex(trim(lower(text)), '\\s+')"
_STOP_SQL = "['" + "', '".join(STOPWORDS) + "']"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_tables(spark, sf_dir, "documents")["documents"], spark)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_tables(spark, sf_dir, "events")["events"], spark)


# --------------------------------------------------------------------------
# BM25 ranking
# --------------------------------------------------------------------------

def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) of every document against the corpus's 3 most
    frequent non-stopword tokens; top-20 docs per query term.

    Scale: tf/df/doclen are map-side-combined hash aggregates keyed on
    (doc, term) / term / doc; the corpus stats (N, avgdl) and the 3-term
    query set are broadcast. The only window partitions by query term with
    its input pre-filtered to term-matching docs — at a 100 TB corpus this
    becomes the salted per-group top-k (see stratified_quota_sample) if the
    per-term posting lists outgrow a partition.

    ln() is the one non-correctly-rounded IEEE op here; both engines use the
    same double-precision libm-quality log and the score is rounded to 6dp,
    so cross-engine agreement holds (same contract as cos_sim's sqrt/div
    chain in similarity.py).
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("t")
    )
    # ONE pass over the token stream: tf is the only aggregate that reads
    # it; doc lengths and the query-term frequency table both derive from
    # tf (Σ tf over terms / docs — bit-identical counts), and the pin
    # stops tf's four consumers re-running the explode+shuffle
    tf = pin(toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf")),
             eager=False)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qterms = (
        tf.filter(~F.col("t").isin(STOPWORDS))
        .groupBy("t")
        .agg(F.sum("tf").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("t"))
        .limit(3)
        .select("t")
    )
    dfreq = tf.join(F.broadcast(qterms), "t").groupBy("t").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "bm25",
            F.round(
                F.log(
                    (F.col("n_docs").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf").cast("double") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * (
                            F.col("dl").cast("double")
                            / (
                                F.col("sum_dl").cast("double")
                                / F.col("n_docs").cast("double")
                            )
                        )
                    )
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("t").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 20)
        .select(F.col("t").alias("term"), "doc_id", "bm25", "rnk")
    )


# --------------------------------------------------------------------------
# Exact stratified quota sampling (salted per-group top-k)
# --------------------------------------------------------------------------

def stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY 40 docs per language, deterministically pseudo-random: the 40
    smallest md5(doc_id) keys per lang (falls short only if a stratum has
    <40 docs). The quota-sampling complement of the hash-threshold
    language_balanced_sample (which is approximate-count but shuffle-free).

    Scale: a naive `row_number over (partition by lang)` funnels each
    stratum — potentially 10s of TB for a head language — through ONE task.
    Instead: phase 1 takes the per-(lang, salt) top-40 over 16 deterministic
    salt shards (bounded partitions), phase 2 re-ranks the ≤ 16·40 survivors
    per lang. The global top-40 of a stratum is always contained in the union
    of its shard top-40s, so the result is exact while the widest partition
    any window sees is min(|stratum|/16, 640 rows at phase 2).
    """
    docs = _docs(spark, sf_dir).select(
        "lang", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("k")
    )
    salted = docs.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(16)))
    w1 = Window.partitionBy("lang", "salt").orderBy("k", "doc_id")
    survivors = (
        salted.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= 40)
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy("lang").orderBy("k", "doc_id")
    return (
        survivors.withColumn("rn", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rn") <= 40)
        .select("lang", "doc_id", "rn")
    )


# --------------------------------------------------------------------------
# MinHash estimator calibration (contract oracle)
# --------------------------------------------------------------------------

def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash estimate itself, oracle-checked by contract: for every
    bounded doc pair with true 2-gram Jaccard ≥ 0.2, the 32-permutation
    MinHash estimate (fraction of agreeing signature components) must land
    within 0.4 of the truth (σ = √(j(1−j)/32) ≤ 0.089, so 0.4 ≈ 4.5σ).
    Output carries the EXACT jaccard plus the within-bound flag — the same
    verification pattern as approx_distinct_bounded: sketch internals are
    engine-specific, the estimator's error contract is not.

    Scale: exact pairs come from the shingle inverted-index join (bounded
    here to doc_id < 150 — the unbounded policy is the LSH path); signatures
    are one 32-buffer hash aggregate per doc (see minhash_signatures).
    """
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    exact = D.jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.2)
    sigs = D.minhash_signatures(
        docs.select("doc_id", "text"), "text", "doc_id", num_perm=32
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
    ).cast("double") / 32.0
    return (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("jaccard"),
            (F.abs(est - F.col("jaccard")) <= 0.4).alias("within_bound"),
        )
    )


# --------------------------------------------------------------------------
# Exact-arithmetic outlier detection over events
# --------------------------------------------------------------------------

def timeseries_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup cascade (the hypertable continuous-
    aggregate pattern, e.g. TimescaleDB's public design): minute partials
    from raw events, HOUR partials re-aggregated from the MINUTE table,
    DAY from the HOUR table — coarse resolutions never rescan raw data,
    which is the whole economics of time rollups at 100 TB (a day rollup
    touches 24 hour-rows per key, not 86,400 s of raw events). Sums are
    DECIMAL(15,3)-exact so re-aggregation is lossless by construction,
    and the output carries an in-query proof: ``cascade_exact`` compares
    every day cell against a direct-from-raw aggregate (decimal
    equality) — 1 everywhere or the cascade is broken.

    Scale: each level is one keyed aggregate with map-side partials over
    the previous level's (already tiny) table; only level 1 touches the
    corpus. The verification twin rescans raw once — in production it is
    a sampled audit, here it runs in full as the oracle-visible proof.
    """
    ev = _events(spark, sf_dir).select(
        "event_type", "ts",
        F.round("value", 3).cast("decimal(15,3)").alias("x"),
    )
    minute = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("x").alias("s"))
    hour = minute.groupBy(
        "event_type", F.date_trunc("hour", "m").alias("h")
    ).agg(F.sum("n").cast("bigint").alias("n"), F.sum("s").alias("s"))
    day = hour.groupBy(
        "event_type", F.date_trunc("day", "h").alias("d")
    ).agg(F.sum("n").cast("bigint").alias("n"), F.sum("s").alias("s"))
    direct = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_direct"),
          F.sum("x").alias("s_direct"))
    return (
        day.join(direct, ["event_type", "d"])
        .select(
            "event_type",
            F.col("d").cast("timestamp").alias("day"),
            F.col("n").alias("n_events"),
            F.round(F.col("s").cast("double"), 3).alias("sum_value_r3"),
            ((F.col("n") == F.col("n_direct"))
             & (F.col("s") == F.col("s_direct"))).cast("int")
            .alias("cascade_exact"),
        )
        .orderBy("event_type", "day")
    )


#: Bradley-Terry MM fit: fixed rounds + positivity clamp (a type that
#: never wins decays toward the floor instead of dividing by zero)
_BT_ROUNDS = 3
_BT_FLOOR = 1e-9


def bt_preference_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength fitting over pairwise contests (Bradley &
    Terry 1952; MM algorithm per Hunter 2004 — both public) — the
    eval-winrate aggregation shape of an RLHF pipeline: pairwise
    preference outcomes (model A beat model B) fit into per-competitor
    strengths that rank and CALIBRATE (P(i beats j) = s_i/(s_i+s_j)),
    which raw win percentages cannot. Contests here: per user, for each
    pair of event types both present, the type with the larger
    decimal-exact engagement sum wins one contest (ties void).

    Determinism: contest outcomes compare DECIMAL(15,3) sums (exact, the
    event_outliers pattern); the MM rounds pin strengths to 6 decimals
    and the two cross-competitor reductions (per-i denominator,
    normalizer) to 9 — the copurchase_pagerank/domain_mixture round-
    pinning pattern, so both engines run bit-identical rounds.

    Scale: ONE user-keyed aggregate touches the corpus; the per-user
    pair stage fans out ≤ |types|² rows per user (bounded, user-keyed);
    everything after is |types|²-sized. MM rounds cost nothing at any
    corpus size. Win matrix is localCheckpointed so rounds never re-derive
    the corpus lineage."""
    per = bt_engagement_partials(_events(spark, sf_dir))
    return bt_strength_from_partials(per)


def bt_engagement_partials(ev: DataFrame) -> DataFrame:
    """(user_id, event_type, s DECIMAL(15,3)-summed) — the corpus-touching
    aggregate of bt_preference_strength, split out because decimal sums
    are ADDITIVE: micro-batch partials sum-merge to exactly the full-scan
    frame, which is what makes the streaming twin value-pairable."""
    return (
        ev.select(
            "user_id", "event_type",
            F.round("value", 3).cast("decimal(15,3)").alias("x"))
        .groupBy("user_id", "event_type").agg(F.sum("x").alias("s"))
    )


def bt_strength_from_partials(per: DataFrame) -> DataFrame:
    """Contests + the pinned Bradley-Terry MM rounds over a
    (user_id, event_type, s) frame — see bt_preference_strength."""
    pairs = (
        per.alias("a")
        .join(per.alias("b"),
              (F.col("a.user_id") == F.col("b.user_id"))
              & (F.col("a.event_type") < F.col("b.event_type")))
        .filter(F.col("a.s") != F.col("b.s"))
        .select(
            F.when(F.col("a.s") > F.col("b.s"), F.col("a.event_type"))
            .otherwise(F.col("b.event_type")).alias("winner"),
            F.when(F.col("a.s") > F.col("b.s"), F.col("b.event_type"))
            .otherwise(F.col("a.event_type")).alias("loser"),
        )
    )
    wins = pairs.groupBy("winner", "loser").agg(
        F.count(F.lit(1)).cast("bigint").alias("w"))
    # every ordered (i, j) with any games between them, win count attached
    pm = (
        wins.select(F.col("winner").alias("i"), F.col("loser").alias("j"),
                    F.col("w").alias("wij"))
        .unionByName(
            wins.select(F.col("loser").alias("i"),
                        F.col("winner").alias("j"),
                        F.lit(0).cast("bigint").alias("wij")))
        .groupBy("i", "j").agg(F.sum("wij").cast("bigint").alias("wij"))
    )
    # lazy: the totals.count() right below materializes it — one blocking
    # job fewer than an eager checkpoint (same pattern as k-means rounds)
    games = pin(
        pm.alias("x")
        .join(pm.alias("y"),
              (F.col("x.i") == F.col("y.j")) & (F.col("x.j") == F.col("y.i")))
        .select(F.col("x.i").alias("i"), F.col("x.j").alias("j"),
                F.col("x.wij").alias("wij"),
                (F.col("x.wij") + F.col("y.wij")).cast("bigint")
                .alias("games")),
        eager=False,
    )
    totals = games.groupBy("i").agg(
        F.sum("wij").cast("bigint").alias("n_wins"),
        F.sum("games").cast("bigint").alias("n_contests"),
    )
    k = totals.count()  # competitor count — dimension-sized, driver-safe
    s = totals.select("i", "n_wins", "n_contests",
                      F.lit(round(1.0 / k, 6)).alias("s"))
    for _ in range(_BT_ROUNDS):
        j_side = s.select(F.col("i").alias("j"), F.col("s").alias("sj"))
        denom = (
            games.join(s.select("i", "s"), "i").join(j_side, "j")
            .groupBy("i")
            .agg(F.round(
                F.sum(F.col("games").cast("double")
                      / (F.col("s") + F.col("sj"))), 9).alias("denom"))
        )
        raw = (
            s.join(denom, "i")
            .withColumn(
                "raw",
                F.greatest(
                    F.lit(_BT_FLOOR),
                    F.col("n_wins").cast("double") / F.col("denom")))
        )
        tot = raw.agg(F.round(F.sum("raw"), 9).alias("tot"))
        # each round references s twice (denominator join + update join):
        # pin the 5-row frame per round or the lineage re-derives the
        # whole upstream 2^rounds times (same fix as the mixture query)
        s = pin(
            raw.crossJoin(F.broadcast(tot))
            .select("i", "n_wins", "n_contests",
                    F.round(F.col("raw") / F.col("tot"), 6).alias("s")),
            eager=False,
        )  # materialized by next round's jobs
    return (
        s.select(F.col("i").alias("event_type"), "n_wins", "n_contests",
                 F.col("s").alias("s_bt_r6"),
                 F.round(F.col("n_wins").cast("double")
                         / F.col("n_contests").cast("double"), 6)
                 .alias("raw_winrate_r6"))
        .orderBy("event_type")
    )


# LSH geometry for the VALUE-paired banded near-dup: 16 portable-md5
# permutations in 4 bands × 4 rows (S-curve threshold ≈ (1/4)^(1/4) ≈ 0.71),
# verification keeps candidate pairs with exact Jaccard ≥ the floor
_LSHP_PERMS = 16
_LSHP_BANDS = 4
_LSHP_VERIFY_T = 0.35


def dedup_minhash_lsh_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup with a VALUE-exact oracle: the xxhash64
    production path (dedup_minhash_lsh) is rows-only by design because
    DuckDB has no xxhash64 twin — this query routes the SAME banded
    construction through portable md5-60-bit permutation hashes so the
    oracle rebuilds every signature, band bucket, candidate pair and
    verified Jaccard bit-for-bit. The full LSH pipeline semantics —
    min-over-shingles signatures, band bucketing, candidate generation
    strictly from bucket collisions, exact verify — are thereby
    value-checked end-to-end, not just row-counted.

    Scale: identical shape to the production path — candidates come ONLY
    from band-bucket self-joins (never all-pairs), signature aggregation
    is one 16-buffer min() hash aggregate with map-side partials (the
    shuffle carries one 16-long row per doc), and the verify joins fan
    out only over bucket-collision pairs.
    """
    docs = _docs(spark, sf_dir)
    t = F.split(F.trim(F.lower("text")), r"\s+")
    grams = (
        docs.withColumn("t", t)
        .filter(F.size("t") >= 2)
        .select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("t", i), F.element_at("t", i + 1)),
                )
            ).alias("g"),
        )
        .distinct()
    )
    # the per-doc gram count rides the SAME 16-buffer aggregate as the
    # signature mins — one corpus pass fewer than a separate sizes scan
    mins = grams.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        *[
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{p}|"), F.col("g"))), 1, 15),
                    16, 10,
                ).cast("bigint")
            ).alias(f"mh{p}")
            for p in range(_LSHP_PERMS)
        ],
    )
    rows = _LSHP_PERMS // _LSHP_BANDS
    bl = mins.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[
                    F.col(f"mh{b * rows + r}").cast("string")
                    for r in range(rows)
                ])).alias("bh"),
            )
            for b in range(_LSHP_BANDS)
        ])).alias("s"),
    ).select("id", "s.band", "s.bh")
    cand = (
        bl.alias("a")
        .join(
            bl.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_hit"))
    )
    sizes = mins.select("id", "n_g")
    shared = (
        grams.alias("ga")
        .join(cand.select("id_a", "id_b"), F.col("ga.id") == F.col("id_a"))
        .join(
            grams.alias("gb"),
            (F.col("gb.id") == F.col("id_b")) & (F.col("ga.g") == F.col("gb.g")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    jac = (
        F.col("n_common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
    )
    return (
        cand.join(shared, ["id_a", "id_b"])
        .join(sizes.select(F.col("id").alias("id_a"),
                           F.col("n_g").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_g").alias("nb")), "id_b")
        .filter(jac >= _LSHP_VERIFY_T)
        .select(
            "id_a", "id_b", "n_bands_hit", "n_common",
            F.round(jac, 6).alias("jaccard_r6"),
        )
        .orderBy("id_a", "id_b")
    )


def event_outliers_exact_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3σ outlier counts with cross-engine-exact arithmetic:
    values are fixed to DECIMAL(15,3), Σx and Σx² accumulate exactly in
    decimal, and only the final μ/σ/compare run in double — where +,−,×,÷,√
    are IEEE-correctly-rounded, so both engines flag the identical rows (no
    float-sum order dependence can leak into the boundary).

    Scale: one map-side-combined aggregate for the moments (one tiny row per
    event_type), broadcast back over the event scan — two passes over the
    data, zero windows, zero row shuffles beyond the moment aggregate.
    """
    ev = _events(spark, sf_dir).select(
        "event_type", F.round("value", 3).cast("decimal(15,3)").alias("x")
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double") * mu
    ) / (F.col("n") - 1)
    flagged = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("mu", mu)
        .withColumn("sd", F.sqrt(var))
        .withColumn(
            "is_out",
            F.abs(F.col("x").cast("double") - F.col("mu")) > 3.0 * F.col("sd"),
        )
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("is_out"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .withColumn(
            "outlier_rate",
            F.round(
                F.col("n_outliers").cast("double") / F.col("n_events"), 6
            ),
        )
    )


# --------------------------------------------------------------------------
# Canonical-representative dedup (argmax aggregate, no window)
# --------------------------------------------------------------------------

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the canonical representative per fingerprint:
    longest text, then lowest doc_id — the curation policy that keeps the
    best copy rather than an arbitrary one.

    Scale: ONE hash aggregate — `max(struct(n_chars, -doc_id))` is the
    argmax, so the partial pass collapses each fingerprint map-side and the
    exchange ships one row per distinct fingerprint, never per document (a
    row_number window would shuffle and sort every document instead).
    """
    docs = _docs(spark, sf_dir)
    best = (
        docs.select("doc_id", "n_chars", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars").alias("nc"),
                    (-F.col("doc_id")).alias("nd"),
                )
            ).alias("b"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
    )
    return best.select(
        (-F.col("b.nd")).cast("bigint").alias("doc_id"),
        F.col("b.nc").cast("bigint").alias("n_chars"),
        "n_dups",
    )


# --------------------------------------------------------------------------
# Equi-width histogram (integer-exact bucketing)
# --------------------------------------------------------------------------

def char_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equi-width histogram of document length. Bucket edges use
    pure integer arithmetic — `(x−min)·10 div (span+1)` — so bucket
    assignment is bit-identical in any engine (no float division at the
    boundary).

    Scale: global min/max is one tiny aggregate broadcast back over the
    scan; the histogram is a map-side-combined count on a 10-value key.
    """
    docs = _docs(spark, sf_dir).select("n_chars")
    mm = docs.agg(
        F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx")
    )
    b = docs.crossJoin(F.broadcast(mm)).withColumn(
        "bucket",
        F.expr("(n_chars - mn) * 10 div (mx - mn + 1)").cast("bigint"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("lo_chars"),
        F.max("n_chars").cast("bigint").alias("hi_chars"),
    )


def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join rewritten as an EQUI-join on time bins — the scale path
    when BOTH sides are large (the broadcast theta join in
    relational.join_range covers the small-interval-side case).

    Ranges (60-day per-customer-group windows derived from orders) explode
    to the 30-day bins they overlap; each lineitem shipdate has exactly ONE
    bin, so bin-equality matches every (point, range) pair exactly once —
    no dedup — and the residual range predicate filters within the bin.
    The join shuffles on the bin key (hash join, never nested-loop), cost ∝
    points + ranges·bins_per_range; a point never meets ranges outside its
    bin. This is the standard binned/bucketed interval-join rewrite Spark's
    optimizer does not do on its own.
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    epoch = "DATE '1992-01-01'"
    ranges = (
        t["orders"]
        .groupBy((F.col("o_custkey") % 50).cast("bigint").alias("rid"))
        .agg(F.min("o_orderdate").alias("s"))
        .withColumn("e", F.expr("s + INTERVAL 60 DAYS"))
        .withColumn("bin_s", F.expr(f"datediff(CAST(s AS DATE), {epoch}) div 30"))
        .withColumn("bin_e", F.expr(f"datediff(CAST(e AS DATE), {epoch}) div 30"))
        .withColumn("bin", F.explode(F.expr("sequence(bin_s, bin_e)")))
    )
    points = t["lineitem"].select(
        "l_orderkey", "l_extendedprice",
        F.col("l_shipdate").alias("p"),
    ).withColumn("bin", F.expr(f"datediff(CAST(p AS DATE), {epoch}) div 30"))
    joined = points.join(ranges, "bin").filter(
        (F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e"))
    )
    return joined.groupBy("rid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double").alias("revenue"),
    )


def attribution_touchpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: every purchase event attributed to the user's
    last click strictly before it (last-touch) and the earliest click inside
    the preceding 7 days (windowed first-touch).

    Scale: ONE shuffle on user_id feeds both attribution windows (same
    partitioning + ordering → Catalyst reuses the sort). Frames are VALUE
    ranges over unix_micros — strictly-earlier semantics by value, so
    same-microsecond click/purchase ties cannot reorder results the way a
    ROWS frame would. At 100 TB this is the per-user timeline pattern:
    partitions scale with users, never with global history.
    """
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    ).filter(F.col("event_type").isin("click", "purchase"))
    # epoch is materialized ONCE so both window specs reference the same
    # attribute — Catalyst then runs both frames off one Sort under one
    # Exchange (re-deriving unix_micros per window forces a redundant Sort)
    ev = ev.withColumn("__ep", F.unix_micros(F.col("ts")))
    click_ts = F.when(F.col("event_type") == "click", F.col("__ep"))
    w_all = (
        Window.partitionBy("user_id")
        .orderBy("__ep")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_7d = (
        Window.partitionBy("user_id")
        .orderBy("__ep")
        .rangeBetween(-7 * 86400 * 1_000_000, -1)
    )
    out = (
        ev.withColumn("last_touch_us", F.max(click_ts).over(w_all))
        .withColumn("first_touch_us", F.min(click_ts).over(w_7d))
        .filter(F.col("event_type") == "purchase")
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.timestamp_micros(F.col("last_touch_us")).alias("last_touch_ts"),
        F.timestamp_micros(F.col("first_touch_us")).alias("first_touch_ts"),
    )


def _table_profile(spark: SparkSession, sf_dir: str, exact: bool) -> DataFrame:
    """Per-column data profile of lineitem (the `ANALYZE`/docs-stats analog):
    row count, null count, distinct count, min/max rendered as strings — one
    row per profiled column.

    Two distinct-count modes:

    - ``exact=False`` (the at-scale default): ``approx_count_distinct``
      (HyperLogLog++, rsd=0.05 → ±5% relative standard deviation, the
      documented error bound) fuses with count/nulls/min/max into ONE
      scan + ONE aggregate — at 100 TB × wide tables this is the only
      profile that costs a single pass.
    - ``exact=True`` (opt-in, oracle-paired): N-way `countDistinct` inside
      one aggregate would force Spark's Expand plan (every row replicated
      N+1 times through the shuffle — measured 5× the whole-profile cost at
      sf0.1), so the cheap metrics fuse into ONE scan and each distinct
      count is its own single-column aggregate — the parquet scan prunes to
      exactly that column and its exchange carries only partial distinct
      values, never replicated rows. No Expand anywhere (plan-pinned).
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    cols = ["l_quantity", "l_shipdate", "l_returnflag", "l_extendedprice"]
    # min/max render rules that are bit-identical across engines: doubles via
    # fixed-scale decimal (double→string differs per engine), timestamps via
    # date, strings as-is
    render = {
        "l_quantity": lambda c: c.cast("decimal(18,2)").cast("string"),
        "l_extendedprice": lambda c: c.cast("decimal(18,2)").cast("string"),
        "l_shipdate": lambda c: c.cast("date").cast("string"),
        "l_returnflag": lambda c: c.cast("string"),
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nn"),
            render[c](F.min(c)).alias(f"{c}__mn"),
            render[c](F.max(c)).alias(f"{c}__mx"),
        ]
        if not exact:
            # HLL++ sketches fuse with the other aggregates — single scan,
            # single exchange, no Expand
            aggs.append(F.approx_count_distinct(c, 0.05).alias(f"{c}__nd"))
    one = li.agg(*aggs)
    if exact:
        for c in cols:
            one = one.crossJoin(
                F.broadcast(li.select(c).agg(
                    F.countDistinct(c).alias(f"{c}__nd")))
            )
    stack_expr = "stack({n}, {parts}) as (column_name, n_nulls, n_distinct, min_value, max_value)".format(
        n=len(cols),
        parts=", ".join(
            f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in cols
        ),
    )
    return one.select(
        F.expr(stack_expr), F.col("n_rows").cast("bigint").alias("n_rows")
    ).select(
        "column_name",
        "n_rows",
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-distinct profile (oracle-paired; see _table_profile)."""
    return _table_profile(spark, sf_dir, exact=True)


def table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass HLL++ profile — the at-scale default (see
    _table_profile; rows/contract check, n_distinct is approximate by
    construction with rsd=0.05; accuracy vs exact is pytest-pinned in
    tests/test_llmops.py)."""
    return _table_profile(spark, sf_dir, exact=False)


def table_profile_approx_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the HLL++ approx profile, oracle-paired: each
    profiled column's ``approx_count_distinct(rsd=0.05)`` estimate must land
    within ±2·rsd (10%) of the exact distinct count. The DuckDB oracle runs
    the SAME contract over ITS OWN approx_count_distinct, so the value-hash
    compare pins both engines' sketches to one tolerance — converting the
    rows-only ``table_profile_approx`` into a value-checked accuracy bound.
    Deterministic: HLL++ is seed-free on fixed data, so the booleans are
    stable run to run.

    Scale: exact counts here exist only to judge the sketch — the at-scale
    profile (table_profile_approx) stays single-pass approx-only; this gate
    runs at validation SFs. Each exact distinct is its own single-column
    aggregate (no Expand, same plan shape as table_profile)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    cols = ["l_quantity", "l_shipdate", "l_returnflag", "l_extendedprice"]
    one = li.agg(
        *[F.approx_count_distinct(c, 0.05).alias(f"{c}__ad") for c in cols])
    for c in cols:
        one = one.crossJoin(
            F.broadcast(li.select(c).agg(
                F.countDistinct(c).alias(f"{c}__nd"))))
    stack_expr = (
        "stack({n}, {parts}) as (column_name, n_distinct_exact, approx)"
        .format(n=len(cols),
                parts=", ".join(f"'{c}', {c}__nd, {c}__ad" for c in cols)))
    return one.select(F.expr(stack_expr)).select(
        "column_name",
        F.col("n_distinct_exact").cast("bigint").alias("n_distinct_exact"),
        (F.abs(F.col("approx") - F.col("n_distinct_exact"))
         <= 0.10 * F.col("n_distinct_exact")).alias("approx_within_2rsd"),
    ).orderBy("column_name")


def skewed_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation — the canonical hot-key mitigation when
    one grouping key holds most of the rows (here event_type, ~5 values over
    10k+ events, the classic power-law shape): phase 1 groups on
    (key, salt=crc32(event_id) % 16) so the hot key's rows spread over 16
    reducers; phase 2 merges the 16 partials per key. Both phases are plain
    hash aggregates; results are integer/decimal-exact so the plain GROUP BY
    oracle matches bit-for-bit.

    Scale: phase-1 shuffle keys = key-cardinality × 16 (bounded), phase-2
    input = that tiny partial table. AQE's skew handling covers JOINS; a
    skewed AGGREGATE still needs the salt — this is the written-down
    pattern. Sum stays DECIMAL until the final cast."""
    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    salted = ev.select(
        "event_type",
        (F.crc32(F.col("event_id").cast("string")) % 16).alias("salt"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("s").cast("decimal(18,6)").cast("double").alias("value_sum"),
        )
    )


def copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered distributed triangle counting (Suri & Vassilvitskii
    2011; functions/graph_stats.py) over the co-purchase graph — parts
    joined by appearing in the same order. Emits the 20 highest-triangle
    nodes with degree and clustering coefficient (the dedup-diagnostics
    shape: clique density over a similarity/co-occurrence graph).

    Scale: edge build is one equi-join on the order key (bounded fan-out:
    pairs-per-order = lines²); counting is two equi-joins on packed
    (degree, node) longs with per-apex wedge work capped at
    out-degree² ≤ O(m) under degree ordering — no vertex serializes a
    task, no windows anywhere. Top-20 via TakeOrderedAndProject."""
    from dbt_spark.functions.graph_stats import canonical_edges, triangle_stats

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    pairs = _basket_pairs(li)
    edges = canonical_edges(pairs, "pa", "pb")
    return (
        triangle_stats(edges)
        .select(
            F.col("node").alias("part_id"), "degree", "triangles",
            "clustering_coeff",
        )
        .orderBy(F.col("triangles").desc(), F.col("part_id").asc())
        .limit(20)
    )


def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (functions/graph_stats.py::pagerank, 4 fixed
    power iterations, damping 0.85) over the co-purchase graph — the
    centrality signal a curation pipeline uses to weight documents by
    source-graph authority. Top-20 nodes by round-6 N-scaled rank.

    Scale: per iteration one equi-join on the source key + one sum
    shuffle on the destination key, partial-aggregated map-side; rank
    state is (node, double). Fixed iterations = linear plan chain, no
    driver collect. Oracle: the SAME four iterations unrolled as
    MATERIALIZED CTE levels in DuckDB; both engines round the final
    double to 6 (sum-order drift ~1e-13 relative, far from the grid —
    float contract in the function docstring)."""
    from dbt_spark.functions.graph_stats import canonical_edges, pagerank

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    pairs = _basket_pairs(li)
    edges = canonical_edges(pairs, "pa", "pb")
    r = pagerank(edges, iterations=4, damping=0.85)
    return (
        r.select(
            F.col("node").alias("part_id"),
            "degree",
            F.round(F.col("rank"), 6).alias("pagerank_r6"),
        )
        .orderBy(F.col("pagerank_r6").desc(), F.col("part_id").asc())
        .limit(20)
    )


def source_gini_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini coefficient of document length — the corpus-
    balance diagnostic (is one source hogging the token budget?).

    Uses the sorted-rank identity G = (2·Σ i·x_i − (n+1)·Σ x) / (n·Σ x)
    with ranks from ONE partitioned window (never a global sort) and all
    sums in DECIMAL(38,0) so they are order-independent and exact; only
    the final division is a double (single correctly-rounded IEEE op →
    bit-equal to the DuckDB oracle while operands stay < 2^53; at larger
    scale round-6 the output). One shuffle on lang."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang", F.col("n_chars").cast("decimal(38,0)").alias("x"),
        F.row_number().over(w).cast("decimal(38,0)").alias("i"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("x").cast("decimal(38,0)").alias("sum_chars_d"),
            F.sum(F.col("i") * F.col("x")).cast("decimal(38,0)").alias("s1"),
        )
        .select(
            "lang", "n_docs",
            F.col("sum_chars_d").cast("bigint").alias("sum_chars"),
            (
                (F.lit(2).cast("decimal(38,0)") * F.col("s1")
                 - (F.col("n_docs") + 1).cast("decimal(38,0)") * F.col("sum_chars_d"))
                .cast("double")
                / (F.col("n_docs").cast("decimal(38,0)") * F.col("sum_chars_d"))
                .cast("double")
            ).alias("gini"),
        )
        .orderBy("lang")
    )


def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the exponential race
    (Efraimidis & Spirakis 2006 A-ES): each doc draws key = −ln(u)/w from
    a reproducible pseudo-uniform u (6 md5 hex digits of doc_id — a pure
    function, so reruns and late shards draw the SAME key; no rand()),
    and the global sample is the k smallest keys — TakeOrderedAndProject,
    so every partition keeps a local top-k and nothing global sorts.
    Weight = n_chars: longer docs proportionally likelier, the standard
    size-weighted corpus subsample.

    ln() is the one non-correctly-rounded op (≤1 ulp cross-engine); keys
    are emitted round-6 and selection boundaries sit ~1/n apart, far
    from ulp scale. Ties (u collision at 16M levels) break on doc_id."""
    docs = _docs(spark, sf_dir)
    u_int = F.lit(0).cast("bigint")
    for pos in range(1, 7):
        digit = F.expr(
            f"instr('0123456789abcdef', substring(md5(cast(doc_id as string)), {pos}, 1)) - 1"
        ).cast("bigint")
        u_int = u_int * 16 + digit
    u = (u_int.cast("double") + F.lit(0.5)) / F.lit(float(16 ** 6))
    key = -F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.select(
            "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round(key, 6).alias("race_key_r6"),
            key.alias("__k"),
        )
        .orderBy(F.col("__k").asc(), F.col("doc_id").asc())
        .limit(20)
        .drop("__k")
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences (the behavioral-analytics staple: which action follows
    which). LAG over a (user, ts, event_id)-ordered window pairs each
    event with its predecessor; one groupBy counts transitions; row
    probabilities are a single double division rounded 6.

    Scale: ONE user-partitioned window (user histories are bounded;
    never an unpartitioned global order) + one (prev, next) groupBy with
    map-side partials — transition pairs ∝ events, matrix output is
    |types|² rows. Deterministic tie-break on event_id for same-ts
    events so both engines pair identically."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    row_tot = counts.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return (
        counts.join(row_tot, "prev_type")
        .select(
            "prev_type", "next_type", "n",
            F.round(F.col("n").cast("double") / F.col("t").cast("double"), 6)
            .alias("p_r6"),
        )
        .orderBy("prev_type", "next_type")
    )


def hll_token_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token cardinality via EXPLICIT HyperLogLog
    registers (Flajolet 2007; functions/sketches.py::hll_registers) with
    the exact count alongside — the mergeable sketch a 100 TB pipeline
    keeps per shard and ORs together instead of re-scanning (Spark's
    approx_count_distinct is this same math opaque; here the registers
    are a first-class DataFrame so they persist/merge/diff).

    Register state: ≤ 2^12 longs per language. The harmonic sum is kept
    EXACT as Σ 2^(52-rho) in DECIMAL(38,0) (order-independent integer
    adds) with ONE decimal→double cast at the end; estimate + Flajolet
    small-range correction are a single double expression rounded to 6
    (both engines' decimal→double casts round-to-nearest; round-6
    absorbs the documented 1-ulp divergence). Exactness of rho: length
    of the binary string — no float log anywhere."""
    from dbt_spark.functions.sketches import hll_registers

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    # portable 60-bit hash (15 md5 hex digits) so DuckDB reproduces the
    # registers bit-for-bit; production uses the default codegen xxhash64
    h60 = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
    regs = hll_registers(toks, p=12, group_cols=["lang"], hash_col=h60,
                         hash_bits=60)
    m = 4096
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("v_obs"),
        F.sum(
            F.pow(F.lit(2.0), (F.lit(52) - F.col("rho")).cast("double"))
            .cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("s_int"),
    )
    z = (
        agg["s_int"].cast("double") / F.lit(float(1 << 52))
        + (F.lit(m) - F.col("v_obs")).cast("double")
    )
    e_raw = F.lit(alpha * m * m) / z
    v0 = (F.lit(m) - F.col("v_obs")).cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (v0 > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v0),
    ).otherwise(e_raw)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("tok").cast("bigint").alias("exact_distinct"))
    return (
        agg.select("lang", F.round(est, 6).alias("hll_estimate_r6"))
        .join(exact, "lang")
        .select(
            "lang", "exact_distinct", "hll_estimate_r6",
            F.round(
                (F.col("hll_estimate_r6") - F.col("exact_distinct"))
                / F.col("exact_distinct"), 6,
            ).alias("rel_err_r6"),
        )
        .orderBy("lang")
    )


def cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch point estimates for the 15 most frequent corpus
    tokens, exact counts alongside (functions/sketches.py::cms_counters
    — the additive-mergeable frequency sketch a 100 TB pipeline keeps
    per shard; CMS never underestimates, and with width 1024 over a
    ~31-token vocabulary collisions are the interesting part the
    estimate column exposes).

    Build: one explode(depth=4) + (row, bucket) groupBy — 4096 counters.
    Probe: top-15 exact tokens (TakeOrderedAndProject) joined to their
    4 row counters, estimate = min. All integers, portable md5 routing —
    the DuckDB oracle rebuilds the identical counters."""
    from dbt_spark.functions.sketches import cms_counters

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    counters = cms_counters(toks, "tok", depth=4, width=1024, portable=True)
    top = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
        .limit(15)
    )
    probes = top.select(
        "tok", "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("r"),
    ).withColumn(
        "b",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("r").cast("string"), F.lit("|"),
                               F.col("tok"))), 1, 8),
            16, 10,
        ).cast("bigint") % 1024,
    )
    return (
        probes.join(F.broadcast(counters), ["r", "b"])
        .groupBy("tok")
        .agg(
            F.max("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.min("cnt").cast("bigint").alias("cms_estimate"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
    )


#: basket-pair fan-out guard: per-order DISTINCT items are capped at the
#: N smallest part keys before the self-join, so a pathological giant
#: basket (10k items in one order) contributes C(cap,2) pairs instead of
#: squaring a task. Semantics documented: baskets beyond the cap co-occur
#: only among their `cap` smallest parts — the bounded-degree projection
#: every production co-occurrence graph applies. TPC-H baskets are <= 7
#: items, so the cap is non-binding at every checked SF (oracle applies
#: the identical cap).
_BASKET_CAP = 256


def _basket_pairs(li: DataFrame, cap: int = _BASKET_CAP) -> DataFrame:
    """Capped per-order co-purchase pairs: DISTINCT (order, part) items,
    the `cap` smallest part keys per order, self-joined within the order.
    One shuffle keys the window AND the self-join on l_orderkey; the
    row_number is order-partitioned (never global)."""
    from pyspark.sql import Window

    items = (
        li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk"))
        .distinct()
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("ok").orderBy("pk")))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    a = items.select("ok", F.col("pk").alias("pa"))
    b = items.select("ok", F.col("pk").alias("pb"))
    return a.join(b, "ok").filter(F.col("pa") < F.col("pb"))


def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80-core of the co-purchase graph by six fixed peeling rounds
    (functions/graph_stats.py::kcore_peel) — the dense-cluster extractor
    (dedup diagnostics / community cores: nodes every one of whose core
    neighbors also has >= k core neighbors). Six rounds exceed the peel
    depth at the checked scale (pytest proves rounds 5 and 6 agree =
    true k-core); the fixed count keeps both engines' plans identical.
    Pair generation is basket-capped (_BASKET_CAP) so one giant
    order cannot square a task — see _basket_pairs. Output: core size +
    degree histogram stats per surviving node, top-20 by (degree desc,
    node). Oracle: the SAME cap + six rounds unrolled as MATERIALIZED
    CTE levels."""
    from dbt_spark.functions.graph_stats import canonical_edges, kcore_peel

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    pairs = _basket_pairs(li)
    edges = canonical_edges(pairs, "pa", "pb")
    core = kcore_peel(edges, k=80, rounds=6)
    return (
        core.select(F.col("node").alias("part_id"),
                    F.col("degree").cast("bigint").alias("core_degree"))
        .orderBy(F.col("core_degree").desc(), F.col("part_id").asc())
        .limit(20)
    )


def _kcore_oracle_sql(k: int = 80, rounds: int = 6) -> str:
    lvls = []
    for r in range(1, rounds + 1):
        lvls.append(f"""keep{r} AS MATERIALIZED (
            SELECT node FROM (
                SELECT u AS node FROM e{r-1} UNION ALL SELECT v FROM e{r-1}
            ) GROUP BY node HAVING count(*) >= {k}
        ), e{r} AS MATERIALIZED (
            SELECT e.u, e.v FROM e{r-1} e
            JOIN keep{r} k1 ON e.u = k1.node
            JOIN keep{r} k2 ON e.v = k2.node
        )""")
    return f"""
        WITH items AS MATERIALIZED (
            SELECT ok, pk FROM (
                SELECT l_orderkey AS ok, l_partkey AS pk,
                       row_number() OVER (PARTITION BY l_orderkey
                                          ORDER BY l_partkey) AS rn
                FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
            ) WHERE rn <= {_BASKET_CAP}
        ), e0 AS MATERIALIZED (
            SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM items a JOIN items b
              ON a.ok = b.ok AND a.pk < b.pk
        ), {", ".join(lvls)}
        SELECT node AS part_id, CAST(count(*) AS BIGINT) AS core_degree
        FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
        GROUP BY node
        ORDER BY core_degree DESC, part_id ASC LIMIT 20
    """


#: standard-normal quantiles for the Cornish-Fisher expansion — CONSTANTS
#: so no normal-quantile function needs cross-engine agreement
_Z = {"p50": 0.0, "p90": 1.2815515655446004, "p99": 2.3263478740408408}


def moments_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments-sketch quantile estimation (Gan et al., SIGMOD'18 "Moment-
    based quantile sketches"): per-language document-length quantiles
    from FIVE power sums (n, Σx..Σx⁴) via the Cornish-Fisher expansion,
    with the exact interpolated percentiles alongside for calibration.

    Why it matters at 100 TB: the sketch state is O(1) numbers per group,
    mergeable by ADDITION across shards/days (vs an exact percentile's
    per-group shuffle of all values) — the cheapest cross-shard quantile
    monitor there is. All power sums stay EXACT (integer n_chars in
    DECIMAL(38,0), order-independent); mean/σ/skew/kurtosis and the CF
    polynomial are one double expression tree from those exact sums with
    fixed z-constants, rounded to 6; exact percentiles use the shared
    (1-g)·a + g·b interpolation both engines define identically."""
    docs = _docs(spark, sf_dir)
    # DECIMAL(9,0) per factor: 9+9+9+9 = 36 digits for x^4, inside
    # both engines' 38-digit multiplication rules (38,0 factors
    # overflow DuckDB's required-scale computation)
    x = F.col("n_chars").cast("decimal(9,0)")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("s1"),
        F.sum(x * x).cast("decimal(38,0)").alias("s2"),
        F.sum(x * x * x).cast("decimal(38,0)").alias("s3"),
        F.sum(x * x * x * x).cast("decimal(38,0)").alias("s4"),
        F.expr("percentile(n_chars, 0.5)").alias("ex50"),
        F.expr("percentile(n_chars, 0.9)").alias("ex90"),
        F.expr("percentile(n_chars, 0.99)").alias("ex99"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    m4 = F.col("s4").cast("double") / n
    var = m2 - m1 * m1
    sd = F.sqrt(var)
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / (sd * sd * sd)
    kurt = (
        (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
        / (var * var)
    ) - 3.0

    def cf(z: float):
        zc = F.lit(z)
        w = (
            zc
            + (zc * zc - 1) * skew / 6
            + (zc * zc * zc - 3 * zc) * kurt / 24
            - (2 * zc * zc * zc - 5 * zc) * skew * skew / 36
        )
        return m1 + sd * w

    return agg.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(m1, 6).alias("mean_r6"),
        F.round(F.col("ex50"), 6).alias("p50_exact_r6"),
        F.round(cf(_Z["p50"]), 6).alias("p50_cf_r6"),
        F.round(F.col("ex90"), 6).alias("p90_exact_r6"),
        F.round(cf(_Z["p90"]), 6).alias("p90_cf_r6"),
        F.round(F.col("ex99"), 6).alias("p99_exact_r6"),
        F.round(cf(_Z["p99"]), 6).alias("p99_cf_r6"),
    ).orderBy("lang")


def _pagerank_oracle_sql(iterations: int = 4, damping: float = 0.85) -> str:
    """Unroll the identical power iterations as MATERIALIZED CTE levels
    (chained lateral aliases would inline each level twice — the
    2^steps blowup documented in the verify notes)."""
    base = repr(1.0 - damping)  # same Python double the Spark plan uses
    lvls = []
    for i in range(1, iterations + 1):
        lvls.append(
            f"""r{i} AS MATERIALIZED (
            SELECT d.v AS node,
                   {base} + {damping!r} * sum(r.rank / deg.deg) AS rank
            FROM d JOIN deg USING (u) JOIN r{i-1} r ON r.node = d.u
            GROUP BY d.v
        )"""
        )
    return f"""
        WITH items AS MATERIALIZED (
            SELECT ok, pk FROM (
                SELECT l_orderkey AS ok, l_partkey AS pk,
                       row_number() OVER (PARTITION BY l_orderkey
                                          ORDER BY l_partkey) AS rn
                FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
            ) WHERE rn <= {_BASKET_CAP}
        ), e AS MATERIALIZED (
            SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        ), d AS MATERIALIZED (
            SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
        ), deg AS MATERIALIZED (
            SELECT u, count(*) AS deg FROM d GROUP BY 1
        ), r0 AS (
            SELECT u AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg
        ), {", ".join(lvls)}
        SELECT deg.u AS part_id,
               deg.deg AS degree,
               round(r{iterations}.rank, 6) AS pagerank_r6
        FROM deg JOIN r{iterations} ON r{iterations}.node = deg.u
        ORDER BY pagerank_r6 DESC, part_id ASC LIMIT 20
    """


_HEX_DIGITS_SQL = ", ".join(
    f"instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), {p}, 1)) - 1 AS d{p}"
    for p in range(1, 7)
)

#: doc_entropy_quality gate thresholds: flag a doc whose word distribution
#: is too peaked (template/spam shape) — entropy below, or top-token
#: share above, these bounds
_ENTROPY_MIN = 3.0
_TOPFRAC_MAX = 0.15


def doc_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy + top-token share — the
    information-density quality gate (low entropy = boilerplate/template/
    keyword-stuffed spam; a different failure mode than Gopher's
    repetition fractions, which need REPEATED n-grams — a doc cycling a
    tiny vocabulary without literal repeats still scores low here).

    H = log2(n) − (Σ c·log2 c)/n over per-word counts c — the decomposed
    form keeps every log2 argument a small INTEGER, so both engines
    evaluate the same discrete log set (1-ulp each) and the Σ rounds
    stably to 6 decimals. top_frac and the flag compare exact bigints
    (20·max_c > 3·n avoids the double divide entirely).

    Scale: explode → (doc_id, word)-keyed count with map-side partials →
    doc-keyed rollup. All shuffles carry the doc key; output is
    corpus-row-sized. At 100 TB this is the same two-stage shape as
    token_count — no global state."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id", "lang",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)
    cnt = words.groupBy("doc_id", "lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    per_doc = cnt.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.max("c").cast("bigint").alias("max_c"),
        F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double")))
        .alias("clogc"),
    )
    n = F.col("n_tokens").cast("double")
    entropy = F.log2(n) - F.col("clogc") / n
    # exact-integer flag: top_frac > 0.15 ⇔ 20·max_c > 3·n;
    # entropy < 3.0 stays a double compare on the r6-pinned value
    flagged = (
        (F.round(entropy, 6) < _ENTROPY_MIN)
        | (20 * F.col("max_c") > 3 * F.col("n_tokens"))
    )
    return (
        per_doc.select(
            "doc_id", "lang", "n_tokens", "n_types",
            F.round(entropy, 6).alias("entropy_r6"),
            F.round(F.col("max_c").cast("double") / n, 6).alias("top_frac_r6"),
            flagged.cast("int").alias("low_quality"),
        )
        .orderBy("doc_id")
    )


def _bt_oracle() -> str:
    rounds = []
    prev = "s0"
    for t in range(1, _BT_ROUNDS + 1):
        rounds.append(f"""
        d{t} AS MATERIALIZED (
            SELECT g.i, round(sum(CAST(g.games AS DOUBLE)
                                  / (si.s + sj.s)), 9) AS denom
            FROM games g
            JOIN {prev} si ON g.i = si.i
            JOIN {prev} sj ON g.j = sj.i
            GROUP BY g.i
        ), r{t} AS MATERIALIZED (
            SELECT p.i, p.n_wins, p.n_contests,
                   greatest({_BT_FLOOR},
                            CAST(p.n_wins AS DOUBLE) / d{t}.denom) AS raw
            FROM {prev} p JOIN d{t} ON p.i = d{t}.i
        ), s{t} AS MATERIALIZED (
            SELECT i, n_wins, n_contests,
                   round(raw / (SELECT round(sum(raw), 9) FROM r{t}), 6) AS s
            FROM r{t}
        )""")
        prev = f"s{t}"
    return f"""
        WITH ev AS (
            SELECT user_id, event_type,
                   CAST(round(value, 3) AS DECIMAL(15,3)) AS x
            FROM events
        ), per AS (
            SELECT user_id, event_type, sum(x) AS s
            FROM ev GROUP BY 1, 2
        ), contests AS (
            SELECT CASE WHEN a.s > b.s THEN a.event_type
                        ELSE b.event_type END AS winner,
                   CASE WHEN a.s > b.s THEN b.event_type
                        ELSE a.event_type END AS loser
            FROM per a
            JOIN per b ON a.user_id = b.user_id
                      AND a.event_type < b.event_type
            WHERE a.s <> b.s
        ), wins AS (
            SELECT winner, loser, CAST(count(*) AS BIGINT) AS w
            FROM contests GROUP BY 1, 2
        ), pm AS (
            SELECT i, j, CAST(sum(wij) AS BIGINT) AS wij FROM (
                SELECT winner AS i, loser AS j, w AS wij FROM wins
                UNION ALL
                SELECT loser AS i, winner AS j, 0 AS wij FROM wins)
            GROUP BY 1, 2
        ), games AS MATERIALIZED (
            SELECT x.i, x.j, x.wij,
                   CAST(x.wij + y.wij AS BIGINT) AS games
            FROM pm x JOIN pm y ON x.i = y.j AND x.j = y.i
        ), totals AS MATERIALIZED (
            SELECT i, CAST(sum(wij) AS BIGINT) AS n_wins,
                   CAST(sum(games) AS BIGINT) AS n_contests
            FROM games GROUP BY 1
        ), s0 AS MATERIALIZED (
            SELECT i, n_wins, n_contests,
                   round(1.0 / (SELECT count(*) FROM totals), 6) AS s
            FROM totals
        ), {", ".join(r.lstrip() for r in rounds)}
        SELECT i AS event_type, n_wins, n_contests, s AS s_bt_r6,
               round(CAST(n_wins AS DOUBLE) / CAST(n_contests AS DOUBLE), 6)
                   AS raw_winrate_r6
        FROM {prev} ORDER BY 1
    """


def _lshp_oracle() -> str:
    rows = _LSHP_PERMS // _LSHP_BANDS
    mins = ", ".join(
        f"min(CAST(('0x' || substr(md5('{p}|' || g), 1, 15)) AS BIGINT)) "
        f"AS mh{p}"
        for p in range(_LSHP_PERMS))
    bands = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5("
        + " || ',' || ".join(
            f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS bh FROM mins"
        for b in range(_LSHP_BANDS))
    return f"""
        WITH t AS (SELECT doc_id AS id, {_TOKS_L} AS t FROM documents),
        grams AS (
            SELECT DISTINCT id, u.g
            FROM t, UNNEST(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS u(g)
            WHERE len(t) >= 2
        ), mins AS (SELECT id, {mins} FROM grams GROUP BY id),
        bandsl AS ({bands}),
        cand AS (
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_bands_hit
            FROM bandsl a
            JOIN bandsl b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
            GROUP BY 1, 2
        ), sizes AS (
            SELECT id, CAST(count(*) AS BIGINT) AS n_g FROM grams GROUP BY id
        ), shared AS (
            SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
            FROM cand c
            JOIN grams ga ON ga.id = c.id_a
            JOIN grams gb ON gb.id = c.id_b AND ga.g = gb.g
            GROUP BY 1, 2
        )
        SELECT c.id_a, c.id_b, c.n_bands_hit, s.n_common,
               round(CAST(s.n_common AS DOUBLE)
                     / CAST(sa.n_g + sb.n_g - s.n_common AS DOUBLE), 6)
                   AS jaccard_r6
        FROM cand c
        JOIN shared s ON s.id_a = c.id_a AND s.id_b = c.id_b
        JOIN sizes sa ON sa.id = c.id_a
        JOIN sizes sb ON sb.id = c.id_b
        WHERE CAST(s.n_common AS DOUBLE)
              / CAST(sa.n_g + sb.n_g - s.n_common AS DOUBLE)
              >= {_LSHP_VERIFY_T}
        ORDER BY c.id_a, c.id_b
    """


ORACLES: dict[str, str] = {
    "timeseries_rollup_cascade": """
        WITH ev AS (
            SELECT event_type, ts,
                   CAST(round(value, 3) AS DECIMAL(15,3)) AS x
            FROM events
        ), minute AS (
            SELECT event_type, date_trunc('minute', ts) AS m,
                   CAST(count(*) AS BIGINT) AS n, sum(x) AS s
            FROM ev GROUP BY 1, 2
        ), hour AS (
            SELECT event_type, date_trunc('hour', m) AS h,
                   CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
            FROM minute GROUP BY 1, 2
        ), day AS (
            SELECT event_type, date_trunc('day', h) AS d,
                   CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
            FROM hour GROUP BY 1, 2
        ), direct AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   CAST(count(*) AS BIGINT) AS n_direct,
                   sum(x) AS s_direct
            FROM ev GROUP BY 1, 2
        )
        SELECT day.event_type,
               CAST(day.d AS TIMESTAMP) AS day,
               day.n AS n_events,
               round(CAST(day.s AS DOUBLE), 3) AS sum_value_r3,
               CAST(day.n = direct.n_direct
                    AND day.s = direct.s_direct AS INT) AS cascade_exact
        FROM day
        JOIN direct ON day.event_type = direct.event_type
                   AND day.d = direct.d
        ORDER BY day.event_type, day
    """,
    "bt_preference_strength": _bt_oracle(),
    "dedup_minhash_lsh_paired": _lshp_oracle(),
    "doc_entropy_quality": f"""
        WITH words AS (
            SELECT doc_id, lang, w
            FROM (SELECT doc_id, lang,
                         unnest(string_split_regex(trim(text), '\\s+')) AS w
                  FROM documents)
            WHERE length(w) > 0
        ), cnt AS (
            SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS c
            FROM words GROUP BY doc_id, lang, w
        ), per_doc AS (
            SELECT doc_id, lang,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(max(c) AS BIGINT) AS max_c,
                   sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clogc
            FROM cnt GROUP BY doc_id, lang
        )
        SELECT doc_id, lang, n_tokens, n_types,
               round(log2(CAST(n_tokens AS DOUBLE))
                     - clogc / CAST(n_tokens AS DOUBLE), 6) AS entropy_r6,
               round(CAST(max_c AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                   AS top_frac_r6,
               CAST(round(log2(CAST(n_tokens AS DOUBLE))
                          - clogc / CAST(n_tokens AS DOUBLE), 6)
                        < {_ENTROPY_MIN}
                    OR 20 * max_c > 3 * n_tokens AS INT) AS low_quality
        FROM per_doc
        ORDER BY doc_id
    """,
    "source_gini_inequality": """
        WITH ranked AS (
            SELECT lang, CAST(n_chars AS DECIMAL(38,0)) AS x,
                   CAST(row_number() OVER (PARTITION BY lang
                                           ORDER BY n_chars, doc_id)
                        AS DECIMAL(38,0)) AS i
            FROM documents
        ), agg AS (
            SELECT lang, count(*) AS n_docs, sum(x) AS sum_chars_d,
                   sum(i * x) AS s1
            FROM ranked GROUP BY 1
        )
        SELECT lang,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(sum_chars_d AS BIGINT) AS sum_chars,
               CAST(2 * s1 - (n_docs + 1) * sum_chars_d AS DOUBLE)
               / CAST(n_docs * sum_chars_d AS DOUBLE) AS gini
        FROM agg ORDER BY lang
    """,
    "weighted_sample_topk": f"""
        WITH digits AS (
            SELECT doc_id, lang, n_chars, {_HEX_DIGITS_SQL}
            FROM documents
        ), keyed AS (
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
                   -ln((CAST(((((d1 * 16 + d2) * 16 + d3) * 16 + d4) * 16 + d5)
                             * 16 + d6 AS DOUBLE) + 0.5) / 16777216.0)
                   / CAST(n_chars AS DOUBLE) AS k
            FROM digits
        )
        SELECT doc_id, lang, n_chars, round(k, 6) AS race_key_r6
        FROM keyed ORDER BY k ASC, doc_id ASC LIMIT 20
    """,
    "copurchase_pagerank": _pagerank_oracle_sql(),
    "kcore_copurchase": _kcore_oracle_sql(),
    "moments_quantile_sketch": """
        WITH agg AS (
            SELECT lang,
                   count(*) AS n,
                   CAST(sum(CAST(n_chars AS DECIMAL(9,0))) AS DECIMAL(38,0)) AS s1,
                   CAST(sum(CAST(n_chars AS DECIMAL(9,0))
                            * CAST(n_chars AS DECIMAL(9,0))) AS DECIMAL(38,0)) AS s2,
                   CAST(sum(CAST(n_chars AS DECIMAL(9,0))
                            * CAST(n_chars AS DECIMAL(9,0))
                            * CAST(n_chars AS DECIMAL(9,0))) AS DECIMAL(38,0)) AS s3,
                   CAST(sum(CAST(n_chars AS DECIMAL(9,0))
                            * CAST(n_chars AS DECIMAL(9,0))
                            * CAST(n_chars AS DECIMAL(9,0))
                            * CAST(n_chars AS DECIMAL(9,0))) AS DECIMAL(38,0)) AS s4,
                   quantile_cont(n_chars, 0.5) AS ex50,
                   quantile_cont(n_chars, 0.9) AS ex90,
                   quantile_cont(n_chars, 0.99) AS ex99
            FROM documents GROUP BY lang
        ), mom AS (
            SELECT lang, n, ex50, ex90, ex99,
                   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                   CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
                   CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
                   CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS m4
            FROM agg
        ), stats AS (
            SELECT lang, n, ex50, ex90, ex99, m1,
                   m2 - m1 * m1 AS var,
                   sqrt(m2 - m1 * m1) AS sd,
                   (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                       / (sqrt(m2 - m1 * m1) * sqrt(m2 - m1 * m1)
                          * sqrt(m2 - m1 * m1)) AS skew,
                   ((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2
                     - 3 * m1 * m1 * m1 * m1)
                    / ((m2 - m1 * m1) * (m2 - m1 * m1))) - 3.0 AS kurt
            FROM mom
        )
        SELECT lang,
               CAST(n AS BIGINT) AS n_docs,
               round(m1, 6) AS mean_r6,
               round(ex50, 6) AS p50_exact_r6,
               round(m1 + sd * (0.0
                     + (0.0e0 * 0.0e0 - 1) * skew / 6
                     + (0.0e0 * 0.0e0 * 0.0e0 - 3 * 0.0e0) * kurt / 24
                     - (2 * 0.0e0 * 0.0e0 * 0.0e0 - 5 * 0.0e0) * skew * skew / 36),
                     6) AS p50_cf_r6,
               round(ex90, 6) AS p90_exact_r6,
               round(m1 + sd * (1.2815515655446004e0
                     + (1.2815515655446004e0 * 1.2815515655446004e0 - 1) * skew / 6
                     + (1.2815515655446004e0 * 1.2815515655446004e0
                        * 1.2815515655446004e0 - 3 * 1.2815515655446004e0)
                       * kurt / 24
                     - (2 * 1.2815515655446004e0 * 1.2815515655446004e0
                        * 1.2815515655446004e0 - 5 * 1.2815515655446004e0)
                       * skew * skew / 36), 6) AS p90_cf_r6,
               round(ex99, 6) AS p99_exact_r6,
               round(m1 + sd * (2.3263478740408408e0
                     + (2.3263478740408408e0 * 2.3263478740408408e0 - 1) * skew / 6
                     + (2.3263478740408408e0 * 2.3263478740408408e0
                        * 2.3263478740408408e0 - 3 * 2.3263478740408408e0)
                       * kurt / 24
                     - (2 * 2.3263478740408408e0 * 2.3263478740408408e0
                        * 2.3263478740408408e0 - 5 * 2.3263478740408408e0)
                       * skew * skew / 36), 6) AS p99_cf_r6
        FROM stats ORDER BY lang
    """,
    "cms_token_freq": """
        WITH toks AS (
            SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ), routed AS (
            SELECT r, tok,
                   CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || tok),
                                        1, 8)) AS BIGINT) % 1024 AS b
            FROM toks, unnest(generate_series(0, 3)) AS g(r)
        ), counters AS (
            SELECT r, b, count(*) AS cnt FROM routed GROUP BY 1, 2
        ), top AS (
            SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY 1
            ORDER BY exact_cnt DESC, tok ASC LIMIT 15
        ), probes AS (
            SELECT t.tok, t.exact_cnt, g.r,
                   CAST(('0x' || substr(md5(CAST(g.r AS VARCHAR) || '|' || t.tok),
                                        1, 8)) AS BIGINT) % 1024 AS b
            FROM top t, unnest(generate_series(0, 3)) AS g(r)
        )
        SELECT p.tok,
               CAST(max(p.exact_cnt) AS BIGINT) AS exact_cnt,
               CAST(min(c.cnt) AS BIGINT) AS cms_estimate
        FROM probes p JOIN counters c ON p.r = c.r AND p.b = c.b
        GROUP BY p.tok ORDER BY exact_cnt DESC, p.tok ASC
    """,
    "hll_token_cardinality": """
        WITH toks AS (
            SELECT lang,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ), hashed AS (
            SELECT lang,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hp
            FROM toks
        ), regs AS (
            SELECT lang, hp & 4095 AS bucket,
                   max(CASE WHEN (hp >> 12) = 0 THEN 49
                            ELSE 49 - length(bin(hp >> 12)) END) AS rho
            FROM hashed GROUP BY 1, 2
        ), agg AS (
            SELECT lang, count(*) AS v_obs,
                   CAST(sum(CAST(pow(2.0, CAST(52 - rho AS DOUBLE))
                                 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_int
            FROM regs GROUP BY 1
        ), est AS (
            SELECT lang, v_obs,
                   (0.7213 / (1.0 + 1.079 / 4096)) * 4096 * 4096
                   / (CAST(s_int AS DOUBLE) / 4503599627370496.0
                      + CAST(4096 - v_obs AS DOUBLE)) AS e_raw
            FROM agg
        ), fin AS (
            SELECT lang,
                   CASE WHEN e_raw <= 2.5 * 4096 AND (4096 - v_obs) > 0
                        THEN 4096.0 * ln(4096.0 / CAST(4096 - v_obs AS DOUBLE))
                        ELSE e_raw END AS e
            FROM est
        ), exact AS (
            SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
            FROM toks GROUP BY 1
        )
        SELECT f.lang, x.exact_distinct,
               round(f.e, 6) AS hll_estimate_r6,
               round((round(f.e, 6) - x.exact_distinct) / x.exact_distinct, 6)
                   AS rel_err_r6
        FROM fin f JOIN exact x ON f.lang = x.lang
        ORDER BY f.lang
    """,
    "event_transition_matrix": """
        WITH pairs AS (
            SELECT user_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type,
                   event_type AS next_type
            FROM events
        ), counts AS (
            SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
            FROM pairs WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ), tot AS (
            SELECT prev_type, sum(n) AS t FROM counts GROUP BY 1
        )
        SELECT c.prev_type, c.next_type, c.n,
               round(CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS p_r6
        FROM counts c JOIN tot t USING (prev_type)
        ORDER BY c.prev_type, c.next_type
    """,
    "copurchase_triangle_stats": f"""
        WITH items AS MATERIALIZED (
            SELECT ok, pk FROM (
                SELECT l_orderkey AS ok, l_partkey AS pk,
                       row_number() OVER (PARTITION BY l_orderkey
                                          ORDER BY l_partkey) AS rn
                FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
            ) WHERE rn <= {_BASKET_CAP}
        ), e AS (
            SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        ),
        deg AS (
            SELECT node, count(*) AS degree FROM (
                SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
            ) GROUP BY node
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        corner AS (
            SELECT node, count(*) AS triangles FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b AS node FROM tri
                UNION ALL SELECT c AS node FROM tri
            ) GROUP BY node
        )
        SELECT deg.node AS part_id, deg.degree,
               coalesce(corner.triangles, 0) AS triangles,
               round(CASE WHEN deg.degree >= 2
                     THEN coalesce(corner.triangles, 0) * 2.0
                          / (deg.degree * (deg.degree - 1))
                     ELSE 0.0 END, 6) AS clustering_coeff
        FROM deg LEFT JOIN corner ON deg.node = corner.node
        ORDER BY triangles DESC, part_id ASC LIMIT 20
    """,
    "skewed_agg_salted": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))
                    AS DOUBLE) AS value_sum
        FROM events GROUP BY event_type
    """,
    "table_profile_approx_tolerance": """
        SELECT column_name, n_distinct_exact,
               abs(approx - n_distinct_exact) <= 0.10 * n_distinct_exact
                   AS approx_within_2rsd
        FROM (
            SELECT 'l_quantity' AS column_name,
                   CAST(count(DISTINCT l_quantity) AS BIGINT)
                       AS n_distinct_exact,
                   CAST(approx_count_distinct(l_quantity) AS BIGINT) AS approx
            FROM lineitem
            UNION ALL
            SELECT 'l_shipdate',
                   CAST(count(DISTINCT l_shipdate) AS BIGINT),
                   CAST(approx_count_distinct(l_shipdate) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'l_returnflag',
                   CAST(count(DISTINCT l_returnflag) AS BIGINT),
                   CAST(approx_count_distinct(l_returnflag) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice',
                   CAST(count(DISTINCT l_extendedprice) AS BIGINT),
                   CAST(approx_count_distinct(l_extendedprice) AS BIGINT)
            FROM lineitem
        ) ORDER BY column_name
    """,
    "join_range_binned": """
        WITH r AS (
            SELECT CAST(o_custkey % 50 AS BIGINT) AS rid,
                   min(o_orderdate) AS s,
                   min(o_orderdate) + INTERVAL 60 DAY AS e
            FROM orders GROUP BY 1
        )
        SELECT rid, CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM lineitem l JOIN r ON l.l_shipdate >= r.s AND l.l_shipdate <= r.e
        GROUP BY rid
    """,
    "attribution_touchpoints": """
        SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
               (SELECT max(CAST(c.ts AS TIMESTAMP)) FROM events c
                WHERE c.user_id = e.user_id AND c.event_type = 'click'
                  AND c.ts < e.ts) AS last_touch_ts,
               (SELECT min(CAST(c.ts AS TIMESTAMP)) FROM events c
                WHERE c.user_id = e.user_id AND c.event_type = 'click'
                  AND c.ts < e.ts
                  AND c.ts >= e.ts - INTERVAL 7 DAY) AS first_touch_ts
        FROM events e WHERE e.event_type = 'purchase'
    """,
    "table_profile": """
        WITH base AS (SELECT count(*) AS n_rows FROM lineitem)
        SELECT 'l_quantity' AS column_name, n_rows,
               (SELECT CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem) AS n_nulls,
               (SELECT CAST(count(DISTINCT l_quantity) AS BIGINT) FROM lineitem) AS n_distinct,
               (SELECT CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) FROM lineitem) AS min_value,
               (SELECT CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) FROM lineitem) AS max_value
        FROM base
        UNION ALL
        SELECT 'l_shipdate', n_rows,
               (SELECT CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(DISTINCT l_shipdate) AS BIGINT) FROM lineitem),
               (SELECT CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) FROM lineitem),
               (SELECT CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) FROM lineitem)
        FROM base
        UNION ALL
        SELECT 'l_returnflag', n_rows,
               (SELECT CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(DISTINCT l_returnflag) AS BIGINT) FROM lineitem),
               (SELECT CAST(min(l_returnflag) AS VARCHAR) FROM lineitem),
               (SELECT CAST(max(l_returnflag) AS VARCHAR) FROM lineitem)
        FROM base
        UNION ALL
        SELECT 'l_extendedprice', n_rows,
               (SELECT CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(DISTINCT l_extendedprice) AS BIGINT) FROM lineitem),
               (SELECT CAST(CAST(min(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) FROM lineitem),
               (SELECT CAST(CAST(max(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) FROM lineitem)
        FROM base
    """,
    "bm25_topk": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS_L}) AS t FROM documents
        ),
        tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        qterms AS (
            SELECT t FROM toks
            WHERE NOT list_contains({_STOP_SQL}, t)
            GROUP BY t ORDER BY count(*) DESC, t LIMIT 3
        ),
        dfq AS (
            SELECT tf.t, count(*) AS df FROM tf JOIN qterms ON tf.t = qterms.t
            GROUP BY tf.t
        ),
        s AS (
            SELECT tf.doc_id, tf.t,
                   round(
                       ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                       * (CAST(tf AS DOUBLE) * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 *
                           (CAST(dl AS DOUBLE)
                            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))),
                       6) AS bm25
            FROM tf JOIN dfq ON tf.t = dfq.t
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN corpus
        ),
        r AS (
            SELECT doc_id, t, bm25,
                   row_number() OVER (PARTITION BY t
                                      ORDER BY bm25 DESC, doc_id) AS rnk
            FROM s
        )
        SELECT t AS term, doc_id, bm25, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 20
    """,
    "stratified_quota_sample": """
        SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
        FROM (
            SELECT lang, doc_id,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents) t
        WHERE rn <= 40
    """,
    "minhash_jaccard_calibration": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_L} AS t FROM documents WHERE doc_id < 150
        ),
        sh AS (
            SELECT DISTINCT doc_id, s
            FROM toks, UNNEST(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])) AS u(s)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(CAST(n_common AS DOUBLE)
                     / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard,
               TRUE AS within_bound
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.2
    """,
    "event_outliers_exact_zscore": """
        WITH ev AS (
            SELECT event_type,
                   CAST(round(value, 3) AS DECIMAL(15,3)) AS x
            FROM events
        ),
        st AS (
            SELECT event_type, count(*) AS n, sum(x) AS s, sum(x * x) AS ss
            FROM ev GROUP BY event_type
        ),
        fl AS (
            SELECT ev.event_type,
                   abs(CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / n)
                       > 3.0 * sqrt((CAST(ss AS DOUBLE)
                                     - CAST(s AS DOUBLE)
                                       * (CAST(s AS DOUBLE) / n)) / (n - 1))
                       AS is_out
            FROM ev JOIN st ON ev.event_type = st.event_type
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_outliers,
               round(CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS outlier_rate
        FROM fl GROUP BY event_type
    """,
    "dedup_keep_best": """
        SELECT doc_id, n_chars, n_dups
        FROM (
            SELECT doc_id, n_chars,
                   CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                       AS n_dups,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents) t
        WHERE rn = 1
    """,
    "char_len_histogram": """
        WITH mm AS (
            SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents
        )
        SELECT CAST((n_chars - mn) * 10 // (mx - mn + 1) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS lo_chars,
               CAST(max(n_chars) AS BIGINT) AS hi_chars
        FROM documents CROSS JOIN mm
        GROUP BY 1
    """,
}

#: KMV (k-minimum-values / bottom-k theta) sketch size and the source
#: subset the pairwise report covers (6 pairs; fan-out bounded by k each)
_KMV_K = 256
_KMV_SOURCES = ("src0", "src1", "src2", "src3")


def kmv_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set UNION and INTERSECTION estimates between source
    corpora via bottom-k (KMV / theta) sketches over word-3-grams —
    the mergeable sketch family that, unlike HyperLogLog, supports set
    INTERSECTION directly (Beyer et al. 2007; the theta-sketch algebra):
    keep each source's k smallest 60-bit gram hashes; the union sketch
    is the k smallest of the merged sketches; any union-sketch member
    below the union threshold is exactly testable for membership in
    each input sketch, so jaccard_est = |both| / k and intersection_est
    = jaccard_est × union_est. Exact union/intersection computed
    alongside as the validation twin (same contract as
    hll_token_cardinality / cms_token_freq).

    Plan (100 TB): distinct (source, gram-hash) reduces map-side; each
    per-source KMV is a SOURCE-partitioned top-k window over 8-byte
    keys (state k longs per source — the sketch a shard persists); the
    pairwise stage touches only 2k rows per pair. Portable md5-60-bit
    hash so DuckDB rebuilds the identical sketches; production swaps in
    xxhash64."""
    docs = _docs(spark, sf_dir).filter(F.col("source").isin(*_KMV_SOURCES))
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    grams = (
        docs.select("source", toks.alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 3),
                    lambda i: F.concat_ws(
                        " ", F.element_at("t", i + 1),
                        F.element_at("t", i + 2), F.element_at("t", i + 3)),
                )
            ).alias("g"),
        )
    )
    # pinned: the gram explode + md5 + distinct feeds FOUR consumers (the
    # per-source KMV window, both sides of the exact self-join, and the
    # size aggregate) — unpinned the corpus pass replays per consumer
    hashed = pin(grams.select(
        "source",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
        .cast("bigint").alias("h"),
    ).distinct(), eager=False)
    w_src = Window.partitionBy("source").orderBy("h")
    kmv = (hashed.withColumn("rn", F.row_number().over(w_src))
           .filter(F.col("rn") <= _KMV_K).select("source", "h"))
    # pairwise: tag each sketch row with every pair it belongs to
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(_KMV_SOURCES)
         for b in _KMV_SOURCES[i + 1:]],
        "source_a STRING, source_b STRING",
    )
    side_a = (F.broadcast(pairs)
              .join(kmv, F.col("source") == F.col("source_a"))
              .select("source_a", "source_b", "h", F.lit(1).alias("in_a"),
                      F.lit(0).alias("in_b")))
    side_b = (F.broadcast(pairs)
              .join(kmv, F.col("source") == F.col("source_b"))
              .select("source_a", "source_b", "h", F.lit(0).alias("in_a"),
                      F.lit(1).alias("in_b")))
    merged = (
        side_a.unionByName(side_b)
        .groupBy("source_a", "source_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w_pair = Window.partitionBy("source_a", "source_b").orderBy("h")
    union_kmv = (merged.withColumn("rn", F.row_number().over(w_pair))
                 .filter(F.col("rn") <= _KMV_K))
    two60 = float(1 << 60)
    sk = union_kmv.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kmv"),
        F.max("h").alias("h_k"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
    )
    union_est = F.when(
        F.col("n_kmv") < _KMV_K, F.col("n_kmv").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(two60)
                / F.col("h_k").cast("double"))
    jacc = F.col("n_both").cast("double") / F.col("n_kmv").cast("double")
    # exact twin from the full distinct-hash sets (validation cost):
    # equi-join on h, fan-out bounded by the source count per key
    ea = hashed.alias("ea")
    eb = hashed.alias("eb")
    exact = (
        ea.join(eb, (F.col("ea.h") == F.col("eb.h"))
                & (F.col("ea.source") < F.col("eb.source")))
        .groupBy(F.col("ea.source").alias("source_a"),
                 F.col("eb.source").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    sizes = hashed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    za = sizes.select(F.col("source").alias("source_a"),
                      F.col("n").alias("na"))
    zb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n").alias("nb"))
    return (
        sk.join(exact, ["source_a", "source_b"], "left")
        .join(za, "source_a").join(zb, "source_b")
        .select(
            "source_a", "source_b",
            F.coalesce("exact_intersection", F.lit(0)).cast("bigint")
            .alias("exact_intersection"),
            (F.col("na") + F.col("nb")
             - F.coalesce("exact_intersection", F.lit(0))).cast("bigint")
            .alias("exact_union"),
            F.round(union_est, 6).alias("union_est_r6"),
            F.round(jacc, 6).alias("jaccard_est_r6"),
            F.round(jacc * union_est, 6).alias("intersection_est_r6"),
        )
        .orderBy("source_a", "source_b")
    )


_KMV_PAIRS_SQL = ", ".join(
    f"('{a}', '{b}')" for i, a in enumerate(_KMV_SOURCES)
    for b in _KMV_SOURCES[i + 1:])
_KMV_SRCS_SQL = ", ".join(f"'{s}'" for s in _KMV_SOURCES)
_TWO60_SQL = f"{float(1 << 60):.1f}"

ORACLES["kmv_theta_set_ops"] = f"""
    WITH toks AS (
        SELECT source, {_TOKS_L} AS t
        FROM documents WHERE source IN ({_KMV_SRCS_SQL})
    ), grams AS (
        SELECT DISTINCT source,
               CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
        FROM toks, UNNEST(list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(g)
        WHERE len(t) >= 3
    ), kmv AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM grams) WHERE rn <= {_KMV_K}
    ), pairs(source_a, source_b) AS (VALUES {_KMV_PAIRS_SQL}),
    tagged AS (
        SELECT p.source_a, p.source_b, k.h,
               max(CASE WHEN k.source = p.source_a THEN 1 ELSE 0 END)
                   AS in_a,
               max(CASE WHEN k.source = p.source_b THEN 1 ELSE 0 END)
                   AS in_b
        FROM pairs p JOIN kmv k ON k.source IN (p.source_a, p.source_b)
        GROUP BY 1, 2, 3
    ), union_kmv AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY source_a, source_b
                                         ORDER BY h) AS rn
            FROM tagged) WHERE rn <= {_KMV_K}
    ), sk AS (
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS n_kmv,
               max(h) AS h_k,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_both
        FROM union_kmv GROUP BY 1, 2
    ), sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY 1
    ), exact AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS exact_intersection
        FROM grams a JOIN grams b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b,
           CAST(COALESCE(e.exact_intersection, 0) AS BIGINT)
               AS exact_intersection,
           CAST(sa.n + sb.n - COALESCE(e.exact_intersection, 0) AS BIGINT)
               AS exact_union,
           round(CASE WHEN s.n_kmv < {_KMV_K} THEN CAST(s.n_kmv AS DOUBLE)
                      ELSE {_KMV_K - 1}.0 * {_TWO60_SQL}
                           / CAST(s.h_k AS DOUBLE) END, 6) AS union_est_r6,
           round(CAST(s.n_both AS DOUBLE) / CAST(s.n_kmv AS DOUBLE), 6)
               AS jaccard_est_r6,
           round(CAST(s.n_both AS DOUBLE) / CAST(s.n_kmv AS DOUBLE)
                 * CASE WHEN s.n_kmv < {_KMV_K} THEN CAST(s.n_kmv AS DOUBLE)
                        ELSE {_KMV_K - 1}.0 * {_TWO60_SQL}
                             / CAST(s.h_k AS DOUBLE) END, 6)
               AS intersection_est_r6
    FROM sk s
    LEFT JOIN exact e USING (source_a, source_b)
    JOIN sizes sa ON s.source_a = sa.source
    JOIN sizes sb ON s.source_b = sb.source
    ORDER BY source_a, source_b
"""

QUERIES = {
    "copurchase_pagerank": copurchase_pagerank,
    "kmv_theta_set_ops": kmv_theta_set_ops,
    "doc_entropy_quality": doc_entropy_quality,
    "dedup_minhash_lsh_paired": dedup_minhash_lsh_paired,
    "bt_preference_strength": bt_preference_strength,
    "timeseries_rollup_cascade": timeseries_rollup_cascade,
    "source_gini_inequality": source_gini_inequality,
    "weighted_sample_topk": weighted_sample_topk,
    "event_transition_matrix": event_transition_matrix,
    "hll_token_cardinality": hll_token_cardinality,
    "cms_token_freq": cms_token_freq,
    "moments_quantile_sketch": moments_quantile_sketch,
    "kcore_copurchase": kcore_copurchase,
    "copurchase_triangle_stats": copurchase_triangle_stats,
    "skewed_agg_salted": skewed_agg_salted,
    "join_range_binned": join_range_binned,
    "attribution_touchpoints": attribution_touchpoints,
    "table_profile": table_profile,
    "table_profile_approx": table_profile_approx,
    "table_profile_approx_tolerance": table_profile_approx_tolerance,
    "bm25_topk": bm25_topk,
    "stratified_quota_sample": stratified_quota_sample,
    "minhash_jaccard_calibration": minhash_jaccard_calibration,
    "event_outliers_exact_zscore": event_outliers_exact_zscore,
    "dedup_keep_best": dedup_keep_best,
    "char_len_histogram": char_len_histogram,
}
